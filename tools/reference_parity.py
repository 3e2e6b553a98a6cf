"""Run the reference library (scipy stubbed with numpy equivalents) on the
SAME testdata inputs as graft's Verify output and report max relative diffs.
Usage: python3 tools/reference_parity.py [sfDir] [verifyOut]
"""
import os, sys, types
import numpy as np

scipy = types.ModuleType('scipy')
linalg = types.ModuleType('scipy.linalg')
linalg.lu_factor = lambda a: (a, None)
linalg.lu_solve = lambda lu_piv, b: np.linalg.solve(lu_piv[0], b)
stats = types.ModuleType('scipy.stats')
class _T:
    def __init__(s, df): pass
    def ppf(s, q): return 0.0
    def sf(s, x): return 0.0
stats.t = _T
optimize = types.ModuleType('scipy.optimize')
class OptimizeResult(dict):
    __getattr__ = dict.get

def _nelder_mead(f, x0, lo, hi, xatol=1e-9, fatol=1e-13, maxiter=2000):
    # standard bounded Nelder-Mead (clip moves into the box)
    n = len(x0)
    def clip(p): return np.minimum(np.maximum(p, lo), hi)
    simplex = [clip(np.array(x0, float))]
    for j in range(n):
        p = np.array(x0, float)
        p[j] = p[j] * 1.05 if p[j] != 0 else 0.00025
        simplex.append(clip(p))
    fv = [f(p) for p in simplex]
    for _ in range(maxiter):
        idx = np.argsort(fv)
        simplex = [simplex[i] for i in idx]; fv = [fv[i] for i in idx]
        xd = max(np.max(np.abs(simplex[i] - simplex[0]) / (1 + np.abs(simplex[0]))) for i in range(1, n + 1))
        fd = max(abs(fv[i] - fv[0]) for i in range(1, n + 1)) / (1 + abs(fv[0]))
        if xd <= xatol and fd <= fatol: break
        c = np.mean(simplex[:-1], axis=0)
        xr = clip(c + (c - simplex[-1])); fr = f(xr)
        if fr < fv[0]:
            xe = clip(c + 2 * (c - simplex[-1])); fe = f(xe)
            simplex[-1], fv[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fv[-2]:
            simplex[-1], fv[-1] = xr, fr
        else:
            xc = clip(c + (0.5 if fr < fv[-1] else -0.5) * (c - simplex[-1])); fc = f(xc)
            if fc < min(fr, fv[-1]):
                simplex[-1], fv[-1] = xc, fc
            else:
                for i in range(1, n + 1):
                    simplex[i] = clip(simplex[0] + 0.5 * (simplex[i] - simplex[0]))
                    fv[i] = f(simplex[i])
    i = int(np.argmin(fv))
    return simplex[i], fv[i]

def minimize(fun, x0, args=(), bounds=None, **kw):
    lo = np.array([b[0] if b[0] is not None else -1e300 for b in bounds])
    hi = np.array([b[1] if b[1] is not None else 1e300 for b in bounds])
    x, fval = _nelder_mead(lambda p: fun(p, *args), np.asarray(x0, float), lo, hi)
    # restart once from the incumbent (boundary-collapse recovery)
    x2, f2 = _nelder_mead(lambda p: fun(p, *args), x, lo, hi)
    if f2 < fval: x, fval = x2, f2
    return OptimizeResult(x=x, fun=fval, success=True)

optimize.minimize = minimize
optimize.OptimizeResult = OptimizeResult
scipy.linalg = linalg; scipy.stats = stats; scipy.optimize = optimize
for name, mod in [('scipy', scipy), ('scipy.linalg', linalg),
                  ('scipy.stats', stats), ('scipy.optimize', optimize)]:
    sys.modules[name] = mod

sys.path.insert(0, '/root/reference')
import pandas as pd
from tsdisagg import disaggregate_series

sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else 'target/verify_out'

orders = pd.read_parquet(f'{sf}/orders.parquet')
lineitem = pd.read_parquet(f'{sf}/lineitem.parquet')
yearly = orders.groupby(orders.o_orderdate.dt.to_period('Y'))['o_totalprice'].sum()
yearly.index = yearly.index.to_timestamp()
yearly.index.freq = yearly.index.inferred_freq
low = yearly.to_frame('revenue')
li = lineitem.assign(rev=lineitem.l_extendedprice * (1 - lineitem.l_discount))
monthly = li.groupby(li.l_shipdate.dt.to_period('M'))['rev'].sum()
monthly.index = monthly.index.to_timestamp()
monthly.index.freq = monthly.index.inferred_freq
high = monthly.to_frame('lx').assign(constant=1.0)

qty = lineitem.groupby(lineitem.l_shipdate.dt.to_period('M'))['l_quantity'].sum()
qty.index = qty.index.to_timestamp()
qty.index.freq = qty.index.inferred_freq
high2 = monthly.to_frame('lx').assign(qty=qty, constant=1.0)

quarterly = orders.groupby(orders.o_orderdate.dt.to_period('Q'))['o_totalprice'].mean()
quarterly.index = quarterly.index.to_timestamp()
quarterly.index.freq = quarterly.index.inferred_freq
lowq = quarterly.to_frame('avg_price')
li_avg = lineitem.groupby(lineitem.l_shipdate.dt.to_period('M'))['l_extendedprice'].mean()
li_avg.index = li_avg.index.to_timestamp()
li_avg.index.freq = li_avg.index.inferred_freq
high_avg = li_avg.to_frame('lx').assign(constant=1.0)

cases = [
    ('denton', 'sum', 'disagg_denton_y2q', low, None),
    ('denton-cholette', 'sum', 'disagg_denton_cholette_y2q', low, None),
    ('chow-lin', 'sum', 'disagg_chow_lin_y2m', low, high),
    ('litterman', 'sum', 'disagg_litterman_y2m', low, high),
    ('chow-lin', 'mean', 'disagg_mean_q2m', lowq, high_avg),
    ('chow-lin', 'sum', 'disagg_two_indicators_y2m', low, high2),
    ('denton-cholette', 'first', 'disagg_first_y2q', low, None),
    ('denton-cholette', 'last', 'disagg_last_y2q', low, None),
]
for method, agg, name, lf, hf in cases:
    kwargs = dict(method=method, agg_func=agg, verbose=False)
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter('ignore')
        if hf is None:
            kwargs['target_freq'] = 'QS'
            ref = disaggregate_series(lf, **kwargs)
        else:
            ref = disaggregate_series(lf, hf, **kwargs)
    # raw/<name>: the disagg_* query entries emit the aggregation-consistency
    # view for the DuckDB gate; Verify dumps the raw series separately
    # Verify dumps raw series to a fixed path outside the driver-scanned
    # outDir (see Verify.scala); fall back to the legacy in-outDir location
    raw_base = 'target/verify_raw'
    if not os.path.isdir(f'{raw_base}/{name}'):
        raw_base = f'{out}/raw'
    ours = pd.read_parquet(f'{raw_base}/{name}').sort_values('ts')
    vals = ours.iloc[:, 1].values
    # the raw dump must come from a Verify run against THE SAME sf dir:
    # a full Verify at another scale silently overwrites verify_raw and
    # the diffs degenerate to garbage (caught r6: sf0.1 dumps vs sf0.01
    # reference inputs printed rel diffs ~10). Length is a reliable
    # fingerprint — series length differs across sf dirs.
    if len(vals) != len(ref):
        print(f'{method:16s} agg={agg:5s} STALE DUMP: {raw_base}/{name} has '
              f'{len(vals)} rows, reference on {sf} has {len(ref)} — re-run '
              f'graft.Verify against {sf} first')
        continue
    rel = np.max(np.abs(ref.values - vals) / np.maximum(np.abs(ref.values), 1e-9))
    print(f'{method:16s} agg={agg:5s} n={len(ref)}  max rel diff vs reference on same data: {rel:.2e}')
