"""Regenerate the sf section of pins.json: the expected row count and
content fingerprint of every board query at the benchmark's scale factors.

For a query with a DuckDB oracle the expectation is the oracle's own result,
fingerprinted by the harness. Where the program's result differs from it,
the program's fingerprint is written under known_defects for a query listed
there, so the board can tell the known defect from any other mismatch, and
the difference is reported for a query that is not listed. Queries without
an oracle pin the fingerprint of the current program's result.
Run through `python3 perfbench/run.py --pin`; needs the duckdb module.
"""
import json
import os
import shutil

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCALES = ["sf0.1", "sf0.001"]


def main(cp, data, java_cmd, run_proc, build_dir, pins_path):
    with open(pins_path) as f:
        pins = json.load(f)
    work = os.path.join(build_dir, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def harness(workload, sf_dir, out, extra=()):
        args = ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
                "--data", sf_dir, "--work", work, "--out", out, "--pins", pins_path,
                "--launch-ms", "0"] + list(extra)
        code, _, err = run_proc(java_cmd(cp, "perfbench.Main", args), 1800)
        if code != 0:
            raise SystemExit(err[-4000:])
        with open(out) as f:
            return json.load(f)

    sql = harness("oracle-sql", data(SCALES[0]), os.path.join(work, "oracle_sql.json"))
    pins["sf"] = {}
    for defect in pins["known_defects"].values():
        for sf in SCALES:
            defect.pop(sf, None)
    for sf in SCALES:
        sf_dir = data(sf)
        odir = os.path.join(work, f"oracle-{sf}")
        os.makedirs(odir)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
        for q, text in sql.items():
            con.execute(f"COPY ({text}) TO '{odir}/{q}.parquet' (FORMAT PARQUET)")
        got = harness("pin", sf_dir, os.path.join(work, f"pin-{sf}.json"), ["--oracle", odir])
        out = {}
        for q, v in sorted(got.items()):
            mine = {"rows": v["rows"], "hash": v["hash"]}
            if "oracle_hash" in v:
                out[q] = {"rows": v["oracle_rows"], "hash": v["oracle_hash"]}
                if out[q] != mine:
                    if q in pins["known_defects"]:
                        pins["known_defects"][q][sf] = mine
                        print(f"{sf} {q}: graft differs from the oracle (known defect)")
                    else:
                        print(f"{sf} {q}: graft differs from the oracle (NOT LISTED)")
            else:
                out[q] = mine
        pins["sf"][sf] = out
    with open(pins_path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {pins_path}")
