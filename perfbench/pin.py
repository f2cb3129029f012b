#!/usr/bin/env python3
"""Re-derives perfbench/pins.json: the expected outputs and reference costs.

    python3 perfbench/pin.py <verify_out_dir>
    python3 perfbench/pin.py --oracle <check_json> [<check_json> ...]

The first form needs the saved results of graft.Verify on the benchmark's
own input tables (`.bench_build/data/...`, made by the first run.py run):

    java ... graft.Verify <data_dir> <verify_out_dir>

It runs every registered query once in a fresh JVM, in name order, and
pins, per query, its module, whether it uses persisted artifacts, its row
count and canonical digest, and its wall time as the reference cost that
query_mix stratifies by. A digest is pinned only when it equals the digest of the
saved Verify result (q29_sketches, approximate by design, pins its count
only).
It also runs geodb_pipeline once and pins its outputs.

The second form records, per query, whether the DuckDB oracle compare
accepted that saved result (`oracle`: true/false; null if not compared):

    python3 scripts/check.py <verify_out_dir> <data_dir> [query ...] --json <check_json>
"""
import json
import os
import re
import sys

import run

# Queries that build, append to, compact, erase from or serve a persisted
# artifact (dedup store, IVF, NSW, MatView state), beside those the pin run
# sees taking a lease or writing under java.io.tmpdir/graft_*.
ARTIFACT = re.compile(
    r"^(dd(11|2[7-9]|30)|ss(0[57]|38|4[2-46]|4[89]|5\d)|tp13|cc15|mv\d\d)_")
APPROXIMATE = {"q29_sketches"}


def main(verify_dir):
    cp = run.build()
    old = run.load_pins()
    data = run.input_tables(old["data"]["scale"], old["data"]["seed"])
    names = sorted(run.run_jvm(cp, "inventory", [], 0, timeout=300))
    full = run.run_jvm(cp, "query_mix",
                       [f"data={data}", "queries=" + ",".join(names),
                        "artifact=" + ",".join(n for n in names if ARTIFACT.match(n))],
                       0, timeout=3000)
    saved = run.run_jvm(cp, "digest", [f"data={verify_dir}",
                                       "queries=" + ",".join(names)], 0,
                        timeout=1200)
    saved = {o["name"]: o for o in saved["ops"]}
    queries = {}
    for op in full["ops"]:
        n = op["name"]
        if op["error"]:
            sys.exit(f"{n} failed in the pin run: {op['error']}")
        same = saved.get(n, {}).get("hash") == op["hash"]
        exact = n not in APPROXIMATE
        if exact and not same:
            print(f"not pinned by digest: {n} (saved result differs)",
                  file=sys.stderr)
        art = bool(ARTIFACT.match(n) or op["leases"] or op["artifact_writes"])
        queries[n] = {
            "module": op["module"], "artifact": art, "rows": op["rows"],
            "hash": op["hash"] if exact and same else None, "oracle": None,
            "ref_s": round(op["seconds"], 3)}
    pipe = run.run_jvm(cp, "geodb_pipeline", [f"entities={run.ENTITIES}"], 0)
    pins = dict(old)
    pins["queries"] = queries
    pins["pipeline"] = {str(run.ENTITIES): {"outputs": pipe["outputs"]}}
    save(pins)
    print(f"pinned {len(queries)} queries, "
          f"{sum(q['hash'] is not None for q in queries.values())} by digest")


def annotate(check_jsons):
    pins = run.load_pins()
    for path in check_jsons:
        with open(path) as f:
            for n, o in json.load(f).items():
                pins["queries"][n]["oracle"] = all(
                    o.get(k) for k in ("rows_match", "schema_match", "hash_match"))
    save(pins)
    flags = [q["oracle"] for q in pins["queries"].values()]
    print(f"oracle: {flags.count(True)} accepted, {flags.count(False)} rejected, "
          f"{flags.count(None)} not compared")


def save(pins):
    with open(os.path.join(run.BENCH, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--oracle":
        annotate(sys.argv[2:])
    elif len(sys.argv) == 2:
        main(sys.argv[1])
    else:
        sys.exit(__doc__)
