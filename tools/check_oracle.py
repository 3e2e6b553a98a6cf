import duckdb, json, glob, os, sys
import pandas as pd
sf = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
out = sys.argv[2] if len(sys.argv) > 2 else 'target/verify_out'
# Optional comma-separated skip list (3rd arg) for large-dir replays where
# a DuckDB oracle is itself super-linear (all-pairs / recursive-CTE dedup
# family): the full gate runs at sf0.01; a scoped sf0.1 gate skips only
# the oracles whose REPLAY cost (not the Spark side) explodes.
skip = set((sys.argv[3] if len(sys.argv) > 3 else '').split(',')) - {''}
# Optional per-oracle wall budget in seconds (4th arg, or CHECK_BUDGET env).
# With a budget, each oracle replays in its own process (parallelism
# CHECK_PAR, default 4) and a blown budget prints BUDGET instead of hanging
# the whole gate on one quadratic replay — the practical mode for sf0.1+.
budget = float(sys.argv[4] if len(sys.argv) > 4 else
               os.environ.get('CHECK_BUDGET', '0') or '0')

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def connect():
    con = duckdb.connect()
    for tbl in ['region','nation','customer','supplier','part','orders',
                'lineitem','events','documents','embeddings']:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{sf}/{tbl}.parquet')")
    return con

def check_one(args, con=None):
    name, sql = args
    try:
        con = con or connect()
        want = con.execute(sql).fetchdf()
        got = pd.read_parquet(f'{out}/{name}')
        w, g = norm(want), norm(got)
        status = 'OK'
        if list(w.columns) != list(g.columns):
            status = f'COLS want={list(w.columns)} got={list(g.columns)}'
        elif len(w) != len(g):
            status = f'ROWS want={len(w)} got={len(g)}'
        else:
            for c in w.columns:
                wv, gv = w[c], g[c]
                # dtype strictness: the driver hashes typed values, so a
                # DuckDB HUGEINT (object) vs Spark int64 is a hard mismatch
                # even when pandas values compare equal (r01 lesson).
                # Datetimes are exempt: resolution (ns vs us) is normalized below.
                w_dt = str(wv.dtype).startswith('datetime') or str(gv.dtype).startswith('datetime')
                if not w_dt and str(wv.dtype) != str(gv.dtype):
                    status = f'DTYPE col={c} want={wv.dtype} got={gv.dtype}'
                    break
                if w_dt:
                    wv = pd.to_datetime(wv).astype('datetime64[us]').astype('int64'); gv = pd.to_datetime(gv).astype('datetime64[us]').astype('int64')
                try:
                    same = (wv.fillna(-999).values == gv.fillna(-999).values).all()
                except Exception:
                    same = (wv.astype(str).values == gv.astype(str).values).all()
                if not same:
                    diffs = (wv.fillna(-999).values != gv.fillna(-999).values).sum()
                    status = f'VALUES col={c} ndiff={diffs} want0={wv.iloc[0]} got0={gv.iloc[0]}'
                    break
        return f'{name:26s} {status}'
    except Exception as e:
        return f'{name:26s} ERROR {type(e).__name__}: {str(e)[:140]}'

def worker(item, q):
    q.put(check_one(item))

def main():
    oracles = json.load(open(f'{out}/oracle_sql.json'))
    todo = []
    for name, sql in sorted(oracles.items()):
        if name in skip:
            print(f'{name:26s} SKIP (oracle replay cost; gate runs at sf0.01)', flush=True)
        else:
            todo.append((name, sql))
    if budget <= 0:
        con = connect()
        for item in todo:
            print(check_one(item, con), flush=True)
        return
    import multiprocessing as mp
    ctx = mp.get_context('spawn')
    par = int(os.environ.get('CHECK_PAR', '4'))
    # one process per oracle so a blown budget is terminated cleanly
    # (DuckDB queries can't be interrupted from the same process)
    pending = list(todo)
    import time
    running = []  # (name, proc, queue, t0)
    def harvest(block):
        for i in range(len(running) - 1, -1, -1):
            name, proc, q, t0 = running[i]
            timed_out = time.time() - t0 > budget
            if not proc.is_alive() or timed_out:
                if timed_out and proc.is_alive():
                    proc.terminate(); proc.join(5)
                    print(f'{name:26s} BUDGET >{budget:.0f}s (replay cost; see sf0.01 gate)', flush=True)
                else:
                    proc.join()
                    # Queue.empty() is unreliable right after process exit
                    # (feeder-thread flush race) — a passing oracle could
                    # sporadically print 'worker died'. Block briefly instead.
                    try:
                        msg = q.get(timeout=5)
                    except Exception:
                        msg = f'{name:26s} ERROR worker died'
                    print(msg, flush=True)
                running.pop(i)
        if block and running:
            time.sleep(1)
    while pending or running:
        while pending and len(running) < par:
            item = pending.pop(0)
            q = ctx.Queue()
            p = ctx.Process(target=worker, args=(item, q))
            p.start()
            running.append((item[0], p, q, time.time()))
        harvest(block=True)

if __name__ == '__main__':
    main()
