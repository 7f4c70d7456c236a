#!/usr/bin/env python3
"""Records the benchmark's reference data from the code at hand.

Usage (from the root of a checkout):
  python3 perfbench/record.py board
      Runs every timed board entry once in a fresh session after an untimed
      warm pass, and writes perfbench/board.json: each entry's reference
      latency, the rows its Spark tasks read, the shared-frame memos it
      reads (found by running it alone in a fresh session), the memo builds
      it paid for (each exclusive of the builds nested in it), and its
      expected result. An entry with oracle SQL in
      graft.SparkEntry.oracleSql expects the DuckDB oracle's digest (the same
      canonical digest perfbench.Canon computes from Spark rows); an entry
      without one expects its row count and schema. It also writes the
      query_board priority list: a coverage set that reaches every query
      object and every memo build, then the rest of the board, entries
      nearest the board's median cost first. Entries whose Spark output
      differs from the oracle are listed and recorded with the oracle's
      digest all the same.
  python3 perfbench/record.py em [--seconds S] [--seeds 1-10]
      Runs em_refresh for each seed and writes perfbench/expected_em.json:
      the row count and digest of every table the cycles wrote, for the
      cycle count and batch sizes that run length gives.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import statistics
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def text(s):
    return f"s{len(s.encode('utf-8'))}:{s}"


def dbl(x):
    if x != x:
        return "f:nan"
    return "f:" + format(struct.unpack("<Q", struct.pack("<d", 0.0 if x == 0.0 else x))[0], "x")


def cell(v):
    """Python twin of perfbench.Canon.cell for DuckDB values."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return dbl(v)
    if isinstance(v, decimal.Decimal):
        return dbl(float(v))
    if isinstance(v, str):
        return text(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"T:{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(text(str(k)) + "=" + cell(x) for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return text(str(v))


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("|".join(cell(r[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256(("cols:" + ",".join(names[i] for i in order) + "\n").encode("utf-8"))
    for line in lines:
        h.update(line + b"\n")
    return h.hexdigest()


def query_board_priority(ops):
    """Orders the timed board entries for query_board and sets each entry's
    reference cost. The order starts with the coverage set: the cheapest
    entry of every query object and the cheapest reader of every
    shared-frame memo, so that every prefix a run takes measures each query
    object and each memo build. The coverage set is mostly the board's
    tail (memo builds, graph legs), so the other entries follow nearest the
    board's median cost first: a longer prefix adds typical entries, and a
    run's median comes from many of them rather than from whichever two
    coverage entries happen to sit in the middle. An entry's reference cost
    is its own latency, less the memo builds it paid for in the reference
    pass, plus the build of each memo it is the first reader of in that
    order."""
    builds = {}
    for o in ops.values():
        for m, b in o["memo_build_s"].items():
            builds[m] = max(builds.get(m, 0.0), b)
    base = {n: max(0.0, o["latency_s"] - sum(o["memo_build_s"].values())) for n, o in ops.items()}
    alone = {n: base[n] + sum(builds.get(m, 0.0) for m in o["memos"]) for n, o in ops.items()}
    coverage = set()
    for group in sorted({o["group"] for o in ops.values()}):
        coverage.add(min((n for n, o in ops.items() if o["group"] == group), key=lambda n: (base[n], n)))
    for m in sorted({m for o in ops.values() for m in o["memos"]}):
        coverage.add(min((n for n, o in ops.items() if m in o["memos"]), key=lambda n: (alone[n], n)))
    first = sorted(coverage, key=lambda n: (base[n], n))
    typical = statistics.median(base.values())
    priority = first + sorted((n for n in ops if n not in coverage), key=lambda n: (abs(base[n] - typical), n))
    built = set()
    for n in priority:
        fresh = [m for m in ops[n]["memos"] if m not in built]
        built.update(fresh)
        ops[n]["ref_s"] = round(base[n] + sum(builds.get(m, 0.0) for m in fresh), 4)
    return priority, first


def record_board():
    import duckdb
    classpath = bench.build()
    run_dir = os.path.join(bench.BUILD, "record")
    r = bench.run_jvm(classpath, run_dir, ["--mode", "record", "--data", bench.DATA], 3000)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{bench.DATA}/{t}.parquet')")
    ops, mismatched = {}, []
    for o in r["ops"]:
        n = o["name"]
        if o["error"]:
            sys.exit(f"{n} failed in the reference pass: {o['error']}")
        sql = r["oracle_sql"].get(n)
        if sql is None:
            check = {"kind": "rows", "rows": o["rows"], "schema": o["schema"]}
        else:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            rows = cur.fetchall()
            check = {"kind": "oracle", "rows": len(rows), "digest": digest(names, rows)}
            if (check["rows"], check["digest"]) != (o["rows"], o["digest"]):
                mismatched.append(n)
        ops[n] = {"group": o["group"], "latency_s": round(o["latency_s"], 4), "memos": o["memos"],
                  "memo_build_s": {m: round(b, 4) for m, b in sorted(o["memo_build_s"].items())},
                  "input_rows": o["input_rows"], "check": check}
    priority, coverage = query_board_priority(ops)
    out = {"data": os.path.relpath(bench.DATA, bench.HERE), "ops": dict(sorted(ops.items())),
           "query_board_coverage": coverage, "query_board_priority": priority,
           "oracle_mismatch": sorted(mismatched)}
    with open(bench.BOARD, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"{len(ops)} entries, {sum(o['check']['kind'] == 'oracle' for o in ops.values())} with oracle digests, "
          f"{len(mismatched)} differing from the oracle: {', '.join(mismatched) or '-'}")


def record_em(seconds, seeds):
    classpath = bench.build()
    out = {"cycles": bench.em_cycles(seconds), "sizes": list(bench.EM_SIZES),
           "seeds": bench.em_recorded_for(seconds)}
    for seed in seeds:
        run_dir = os.path.join(bench.BUILD, "record")
        args = ["--workload", "em_refresh", "--seed", str(seed), "--trace", "0"] + bench.em_args(seconds)
        r = bench.run_jvm(classpath, run_dir, args, bench.RUN_LIMIT_S)
        fails = bench.check_em(r["timed"], None, seconds)
        if fails:
            sys.exit(f"seed {seed}: {fails}")
        out["seeds"][str(seed)] = r["timed"]["checks"]["tables"]
        print(f"seed {seed}: {len(out['seeds'][str(seed)])} tables, cycles {[round(o['latency_s'], 2) for o in r['timed']['ops']]} s")
    with open(bench.EXPECTED_EM, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("what", choices=("board", "em"))
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    if a.what == "board":
        record_board()
    else:
        lo, _, hi = a.seeds.partition("-")
        record_em(a.seconds, range(int(lo), int(hi or lo) + 1))


if __name__ == "__main__":
    main()
