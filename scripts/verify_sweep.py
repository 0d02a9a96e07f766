"""Verify-skill core flow: entry() smoke + determinism probe + full
registry oracle parity vs DuckDB at a given SF (driver-check replica).

Usage: python scripts/verify_sweep.py [sf_dir] [master] [--json OUT]
Prints one line per query and a final PASS/FAIL summary; with
``--json OUT`` also writes a per-key record ``{key: {ok, sec, msg}}``
plus a summary row — the committed, diffable full-registry artifact
(``make sweep`` -> SWEEP_r06.json; r05 verdict item 2).
"""
from __future__ import annotations

import hashlib
import importlib.util
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tests")

JSON_OUT = None
_argv = list(sys.argv[1:])
if "--json" in _argv:
    i = _argv.index("--json")
    JSON_OUT = _argv[i + 1]
    del _argv[i:i + 2]
# --fresh-con: one DuckDB connection PER KEY (plus a bounded
# memory_limit and a disk spill dir).  Needed at sf0.1: the
# suffix-array oracles (cut_substrings etc.) can exhaust DuckDB's
# buffer pool, and with a shared connection the OOM poisons every
# later query — per-key isolation confines an oracle-side OOM to its
# own key.
FRESH_CON = "--fresh-con" in _argv
if FRESH_CON:
    _argv.remove("--fresh-con")
# --skip k1,k2: exclude keys whose ORACLE exceeds DuckDB's memory at
# the chosen SF (a DuckDB OOM aborts the whole process allocator, so
# an in-process loop cannot recover past one) — each skipped key is
# recorded as {"skipped": reason} in the JSON, not as a pass.
SKIP: set[str] = set()
if "--skip" in _argv:
    i = _argv.index("--skip")
    SKIP = set(_argv[i + 1].split(","))
    del _argv[i:i + 2]
# --start-after NAME: resume a crashed sweep (a DuckDB hard OOM can
# poison the process allocator beyond per-connection recovery; the
# JSON below is written incrementally so progress survives).
START_AFTER = None
if "--start-after" in _argv:
    i = _argv.index("--start-after")
    START_AFTER = _argv[i + 1]
    del _argv[i:i + 2]
SF = _argv[0] if len(_argv) > 0 else "/root/testdata/sf0.01"
MASTER = _argv[1] if len(_argv) > 1 else "local[8]"


def _hash_df(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(map(str, pdf.itertuples(index=False, name=None)))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    from ehr_relation_extraction_spark.session import get_spark
    from ehr_relation_extraction_spark import driver_queries as dq
    from compare_util import duck_con, compare

    spark = get_spark(master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. entry() smoke + determinism
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    e1 = mod.entry(spark)
    h1 = _hash_df(e1)
    n1 = e1.count()
    cols = ",".join(e1.columns)
    assert n1 > 0 and cols == "doc_id,url,subj_id,subj,pred,obj", (n1, cols)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    h2 = _hash_df(mod.entry(spark))
    spark.conf.set("spark.sql.shuffle.partitions", old)
    assert h1 == h2, "entry() not deterministic across shuffle partitions"
    print(f"entry SMOKE PASS rows={n1} hash={h1[:12]}", flush=True)

    # 2. full registry parity
    def _con():
        c = duck_con(SF)
        if FRESH_CON:
            import os

            os.makedirs("/tmp/duck_spill", exist_ok=True)
            c.sql("PRAGMA memory_limit='24GB'")
            c.sql("PRAGMA temp_directory='/tmp/duck_spill'")
        return c

    con = _con()
    oracle = dq.oracle_sql() if hasattr(dq, "oracle_sql") else None
    if oracle is None:
        from ehr_relation_extraction_spark.oracle.sqlgen import ORACLE
        oracle = ORACLE
    n_pass = n_fail = n_skip = 0
    t0 = time.time()
    records: dict[str, dict] = {}
    started = START_AFTER is None
    for name, fn in dq.QUERIES.items():
        if not started:
            if name == START_AFTER:
                started = True
            continue
        t = time.time()
        if name in SKIP:
            n_skip += 1
            records[name] = {"skipped": "oracle-side DuckDB OOM at this"
                                        " SF (engine side verified"
                                        " separately)"}
            print(f"{name} SKIP (oracle-side OOM at this SF)", flush=True)
            continue
        if FRESH_CON:
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            con = _con()
        try:
            ok, msg = compare(fn(spark, SF), con.sql(oracle[name]).df())
        except Exception as exc:  # noqa: BLE001
            ok, msg = False, f"EXC {exc!r}"
        n_pass += ok
        n_fail += not ok
        records[name] = {"ok": bool(ok), "sec": round(time.time() - t, 2),
                         **({} if ok else {"msg": msg[:300]})}
        print(f"{name} {'PASS' if ok else 'FAIL ' + msg[:300]}"
              f" ({time.time() - t:.1f}s)", flush=True)
        if JSON_OUT:  # incremental: survive a hard DuckDB abort
            import json as _json

            with open(JSON_OUT, "w") as f:
                _json.dump({"sf_dir": SF, "master": MASTER,
                            "partial": True, "keys": records}, f, indent=1)
    wall = round(time.time() - t0, 1)
    print(f"SUMMARY pass={n_pass} fail={n_fail} skip={n_skip} sf={SF}"
          f" wall={wall:.0f}s", flush=True)
    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as f:
            json.dump({"sf_dir": SF, "master": MASTER,
                       "n_pass": n_pass, "n_fail": n_fail,
                       "n_skip": n_skip, "wall_s": wall, "keys": records}, f, indent=1)
        print(f"wrote {JSON_OUT}", flush=True)
    # a sweep that checked nothing (every key skipped) proves nothing
    return 1 if n_fail or not n_pass else 0


if __name__ == "__main__":
    raise SystemExit(main())
