#!/usr/bin/env python3
"""Local pre-validation of SparkEntry oracles, mimicking the driver's
DuckDB compare: run Verify output parquet vs oracle SQL on the same
tables; columns sorted by name, values compared exactly."""
import sys, os, re, json, math, argparse, threading, subprocess
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "part", "orders",
          "lineitem", "events", "documents"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def cells_equal(a, b) -> bool:
    if a is None or (isinstance(a, float) and math.isnan(a)):
        return b is None or (isinstance(b, float) and math.isnan(b))
    if b is None or (isinstance(b, float) and math.isnan(b)):
        return False
    if isinstance(a, float) or isinstance(b, float):
        try:
            return float(a) == float(b)
        except (TypeError, ValueError):
            return False
    return str(a) == str(b)

def fresh_con(sf_dir: str):
    """A new connection with the table views installed. One connection
    PER QUERY, not per run: DuckDB holds buffer-pool state across
    queries on a connection, and a 233-query replay accumulates past
    the memory cap around query ~180 — after which every later query
    (including trivial projections) dies with 'failed to allocate N
    bytes'. Measured twice at the r10 sweep, once on a quiet box with
    123 GB free; per-query connections bound the accumulation at one
    query's footprint. View creation is lazy and costs nothing."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written table dir (e.g. target/sf1)
            p = f"{p}/*.parquet"
        if t == "events":
            # Spark-written events store ts as int64 nanos (Spark cannot
            # write TIMESTAMP(NANOS)); normalize to the micros truncation
            # the Spark-side Tables.events reader applies, so every events
            # oracle is replayable at the scale dir with identical semantics
            typ = con.execute(f"SELECT typeof(ts) FROM '{p}' LIMIT 1").fetchone()
            if typ and typ[0] == "BIGINT":
                con.execute(
                    f"CREATE VIEW events AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) "
                    f"FROM '{p}'")
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con

def main(sf_dir: str, out_dir: str, skip=(), timeout_sec=0, only=None):
    import time
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    times = {}  # per-key oracle wall seconds -> TALLY, for sweep diffing
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            continue
        t0 = time.monotonic()
        if name in skip:
            # loud, never silent: a skipped oracle is an exemption the
            # caller must justify, not a pass
            print(f"SKIP {name} (exempted by --skip)")
            n_skip += 1
            continue
        con = fresh_con(sf_dir)
        timer = None
        if timeout_sec:
            timer = threading.Timer(timeout_sec, con.interrupt)
            timer.start()
        try:
            want = norm(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        finally:
            if timer:
                timer.cancel()
            con.close()
        pdir = f"{out_dir}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output at {pdir}")
            n_fail += 1
            continue
        # Read spark output with pandas directly (NOT through duckdb): the
        # driver's hash compare is dtype-sensitive, and routing the spark
        # side through duckdb would launder dtype differences (e.g. spark
        # decimal128 vs duckdb float64) that the driver flags.
        got = norm(pd.read_parquet(pdir))
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # dtype-kind mismatch (int64 vs float64, object/Decimal vs float64,
        # ...) fails the driver's hash even when values are equal.
        kind_bad = [(c, str(got[c].dtype), str(want[c].dtype))
                    for c in got.columns
                    if got[c].dtype.kind != want[c].dtype.kind]
        if kind_bad:
            c, g, w = kind_bad[0]
            print(f"FAIL {name}: dtype col={c} spark={g} oracle={w}")
            n_fail += 1
            continue
        bad = None
        for col in got.columns:
            gv, wv = got[col].tolist(), want[col].tolist()
            for i, (x, y) in enumerate(zip(gv, wv)):
                if not cells_equal(x, y):
                    bad = (col, i, x, y)
                    break
            if bad:
                break
        if bad:
            col, i, x, y = bad
            print(f"FAIL {name}: col={col} row={i} spark={x!r} oracle={y!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        times[name] = round(time.monotonic() - t0, 3)
    tail = f" / {n_skip} skipped" if n_skip else ""
    print(f"\n{n_pass} pass / {n_fail} fail{tail}")
    # Machine-readable tally as the LAST line — the chunked parent
    # anchors its parse here instead of regex-searching the whole
    # stdout (where a 'N pass / M fail' string inside a FAIL diff
    # block would be misparsed as the tally).
    print("TALLY " + json.dumps(
        {"pass": n_pass, "fail": n_fail, "skip": n_skip, "sec": times}))
    sys.exit(1 if n_fail else 0)

def run_chunked(sf_dir, out_dir, chunk, skip, timeout_sec, only, times_out=None):
    """Fan the replay out over child processes of `chunk` queries each.
    Needed for full-registry sweeps at big SFs: DuckDB (and the
    pandas conversion path) retain process-level memory across queries
    that neither con.close() nor fresh connections return to the
    allocator — the r10 233-query sf1 sweep died with 'failed to
    allocate 2048 bytes' on a box with 123 GB free, twice, including
    once with one connection per query. A child process exits after its
    chunk, so retention is bounded at chunk size; the parent only
    forwards output and sums the tallies."""
    names = sorted(json.load(open(f"{out_dir}/oracle_sql.json")))
    if only is not None:
        names = [n for n in names if n in only]
    n_pass = n_fail = n_skip = 0
    times = {}
    for i in range(0, len(names), chunk):
        cmd = [sys.executable, os.path.abspath(__file__), sf_dir, out_dir,
               "--chunk", "0", "--only", ",".join(names[i:i + chunk])]
        if skip:
            cmd += ["--skip", ",".join(sorted(skip))]
        if timeout_sec:
            cmd += ["--timeout-sec", str(timeout_sec)]
        r = subprocess.run(cmd, capture_output=True, text=True)
        lines = r.stdout.rstrip("\n").split("\n")
        # The child's tally is ONLY trusted as its final line (a JSON
        # 'TALLY {...}' sentinel): a crash mid-chunk leaves no final
        # tally, and a FAIL diff block containing tally-shaped text
        # can never be mistaken for one.
        tally = None
        if lines and lines[-1].startswith("TALLY "):
            try:
                tally = json.loads(lines[-1][len("TALLY "):])
            except json.JSONDecodeError:
                tally = None
        print("\n".join(l for l in lines
                        if not l.startswith("TALLY ")), flush=True)
        if tally is None:
            # Child died mid-chunk. Credit the PASS/SKIP lines it DID
            # print (per-query lines are emitted as each query
            # finishes), fail everything unaccounted for. Each credit is
            # anchored to the exact per-query line format for a name IN
            # THIS CHUNK — a FAIL diff body line that merely starts with
            # 'PASS '/'SKIP ' must not inflate the credit — and a name
            # is credited at most once (a diff body echoing a real PASS
            # line would otherwise double-count it).
            chunk_names = set(names[i:i + chunk])
            pass_re = re.compile(r"PASS (\S+) \(\d+ rows\)$")
            skip_re = re.compile(r"SKIP (\S+) \(exempted by --skip\)$")
            seen_pass = len({m.group(1) for l in lines
                             if (m := pass_re.fullmatch(l))
                             and m.group(1) in chunk_names})
            seen_skip = len({m.group(1) for l in lines
                             if (m := skip_re.fullmatch(l))
                             and m.group(1) in chunk_names})
            print(f"FAIL chunk {i // chunk}: no tally "
                  f"(exit {r.returncode}): {r.stderr.strip()[-500:]}")
            n_pass += seen_pass
            n_skip += seen_skip
            n_fail += len(names[i:i + chunk]) - seen_pass - seen_skip
            continue
        n_pass += tally["pass"]
        n_fail += tally["fail"]
        n_skip += tally["skip"]
        times.update(tally.get("sec", {}))
    if times_out:
        # merged per-key oracle seconds, plus the Spark side's
        # verify_times.json when present -> ONE sweep artifact a later
        # round diffs by key instead of re-running the sweep
        spark_times = {}
        vt = f"{out_dir}/verify_times.json"
        if os.path.exists(vt):
            spark_times = json.load(open(vt))
        json.dump({"sf_dir": sf_dir, "pass": n_pass, "fail": n_fail,
                   "skip": n_skip, "oracle_sec": times,
                   "spark_sec": spark_times},
                  open(times_out, "w"), indent=1)
        print(f"sweep times -> {times_out}")
    tail = f" / {n_skip} skipped" if n_skip else ""
    print(f"\n{n_pass} pass / {n_fail} fail{tail}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--skip", default="",
                    help="comma-separated oracle names to exempt (printed loudly)")
    ap.add_argument("--timeout-sec", type=int, default=0,
                    help="per-query DuckDB timeout (interrupt -> FAIL)")
    ap.add_argument("--only", default="",
                    help="comma-separated oracle names to check (local fast loop)")
    ap.add_argument("--chunk", type=int, default=40,
                    help="queries per child process (0 = run in-process; "
                         "default 40 bounds DuckDB's cross-query memory "
                         "retention on full-registry sweeps)")
    ap.add_argument("--times-out", default="",
                    help="write merged per-key sweep times (oracle + "
                         "spark verify_times.json) to this JSON path")
    a = ap.parse_args()
    skip = frozenset(x for x in a.skip.split(",") if x)
    only = frozenset(x for x in a.only.split(",") if x) or None
    if a.chunk > 0:
        run_chunked(a.sf_dir, a.out_dir, a.chunk, skip, a.timeout_sec, only,
                    times_out=a.times_out or None)
    main(a.sf_dir, a.out_dir, skip=skip, timeout_sec=a.timeout_sec, only=only)
