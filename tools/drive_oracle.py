#!/usr/bin/env python3
"""Per-query DuckDB oracle drive with timeouts (dev-only): re-runs the
compare side of check.py one query at a time against an existing
graft.Verify output dir, so one pathologically slow ORACLE replay
(DuckDB-side cost, not engine cost) can't stall the whole drive.
Usage: drive_oracle.py <sfDir> <verifyOut> [--strict] [--timeout=N]
       [--only=a,b,c]   (restrict to named queries — subset drives
                         against a subset Verify dump)
       [--jobs=N]       (run N check.py replays concurrently — each
                         replay is an independent DuckDB process, so
                         this cuts a big-SF drive's wall time roughly
                         N-fold; results print as they finish, and the
                         summary and pass/fail verdicts are identical
                         to a sequential drive. Per-query `sec` values
                         are NOT: under concurrency they include
                         DuckDB process contention, so timings in a
                         --jobs results file are wall-clock-of-the-run
                         evidence only, not comparable to sequential
                         timings — and timeouts fire on the same
                         contended clock, so a near-limit replay may
                         time out under --jobs that passes alone)
A replay that exits non-zero without check.py's pass/fail summary is
reported `crashed`, apart from `fail`; a failed or crashed replay's
results entry keeps its exit code and the tails of stdout and stderr."""
import json, re, subprocess, sys, time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

SF = sys.argv[1]
OUT = Path(sys.argv[2])
STRICT = ["--strict"] if "--strict" in sys.argv else []
TIMEOUT = 180
ONLY = None
JOBS = 1
for a in sys.argv:
    if a.startswith("--timeout="):
        TIMEOUT = int(a.split("=")[1])
    if a.startswith("--only="):
        ONLY = {n.strip() for n in a.split("=", 1)[1].split(",") if n.strip()}
    if a.startswith("--jobs="):
        JOBS = max(1, int(a.split("=")[1]))

# Drive the UNION of oracle-keyed queries and every result dir the
# verify run dumped: a query without an oracle entry still gets its
# rows-only check run (check.py handles it), so the final summary is a
# full-registry count rather than silently understating coverage.
oracle_names = set(json.loads((OUT / "oracle_sql.json").read_text()).keys())
# only result dirs that actually hold parquet: a stray state/tmp dir
# in the dump dir must not be driven through check.py as a "query"
dumped = {p.name for p in OUT.iterdir()
          if p.is_dir() and any(p.glob("*.parquet"))}
names = sorted(oracle_names | dumped)
if ONLY is not None:
    missing = ONLY - set(names)
    if missing:
        sys.exit(f"--only names not in oracle or dump: {sorted(missing)}")
    names = sorted(ONLY)
rows_only = sorted(set(names) & (dumped - oracle_names))
if rows_only:
    print(f"note: {len(rows_only)} rows-only queries (no oracle SQL): "
          + ", ".join(rows_only))
def drive_one(n):
    t0 = time.time()
    try:
        r = subprocess.run(
            [sys.executable, "tools/check.py", SF, str(OUT), "--no-spark",
             f"--only={n}"] + STRICT,
            capture_output=True, text=True, timeout=TIMEOUT,
            cwd="/root/repo")
        dt = time.time() - t0
        ok = "0 fail" in r.stdout and "1 pass" in r.stdout
        # a replay that exits non-zero before check.py's "N pass, M fail"
        # summary crashed: its evidence is the exit code and stderr
        summary = re.search(r"^\d+ pass, \d+ fail$", r.stdout, re.M)
        status = "pass" if ok else "fail" if summary or r.returncode == 0 else "crashed"
        res = {"status": status, "sec": round(dt, 1)}
        if not ok:
            res.update(detail=r.stdout[-500:], exit=r.returncode, stderr=r.stderr[-500:])
    except subprocess.TimeoutExpired:
        res = {"status": "oracle_timeout", "sec": TIMEOUT}
    print(f"{res['status']:>14s} {res['sec']:7.1f}s {n}", flush=True)
    return n, res

if JOBS == 1:
    results = dict(map(drive_one, names))
else:
    with ThreadPoolExecutor(max_workers=JOBS) as ex:
        results = dict(ex.map(drive_one, names))

count = {s: sum(1 for v in results.values() if v["status"] == s)
         for s in ("pass", "oracle_timeout", "crashed", "fail")}
print(f"\n{count['pass']} pass, {count['oracle_timeout']} oracle-timeout, "
      f"{count['crashed']} crashed, {count['fail']} fail of {len(results)}")
Path("/tmp/drive_oracle_results.json").write_text(json.dumps(results, indent=1))
