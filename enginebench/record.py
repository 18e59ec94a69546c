"""Re-record expected.json: `python3 enginebench/run.py --record`.

For every workload, on the base data profile and on the smoke profile,
the harness runs each registry key (and, for `serve`, each SQL grid
statement) once through the workload's own path. It reports the row
count and order-independent hash of each result, and keeps each result
as parquet beside an `oracle_sql.json` (see `Parity` in Common.scala):
for `batch` the DataFrame the request built, for `serve` the very file
`/rows` served. Then:

1. `dev/parity.py` compares every kept output with DuckDB running the
   key's `Registry.oracleSql` (or the SQL statement itself) on the same
   tables, and every one must pass;
2. each kept output, read back the way the harness reads results, must
   have the same fingerprint as the workload path reported.

expected.json is written only if both hold for every output.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parity(data, dump, names):
    cmd = [sys.executable, os.path.join(ROOT, "dev", "parity.py"), data, dump] + list(names)
    p = subprocess.run(cmd, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    print(last or p.stderr[-2000:], file=sys.stderr)
    # parity.py skips a name that oracle_sql.json lacks, so count the passes
    m = re.fullmatch(r"== (\d+) pass, 0 fail, 0 missing ==", last)
    if p.returncode != 0 or not m or int(m.group(1)) != len(names):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit(f"parity failed for {dump}")


def main(run_harness, data_dir):
    config = json.load(open(os.path.join(HERE, "workloads.json")))
    expected = {}
    for name in config["workloads"]:
        for profile in ("base", "smoke"):
            result, rec = run_harness(name, seed=1, seconds=0, trace=0, mode="record",
                                      profile_name=profile, tag="-record")
            if result["errors"]:
                raise SystemExit(f"{name}/{profile}: {result['errors']}")
            got = result["fingerprints"]
            data = data_dir(profile, config["profiles"][profile])
            parity(data, os.path.join(rec["work_dir"], "parity"), sorted(got))
            kept = result["parity_fingerprints"]
            differ = sorted(n for n in set(got) | set(kept) if got.get(n) != kept.get(n))
            if differ:
                raise SystemExit(f"{name}/{profile}: the parity-checked output differs from "
                                 f"what the workload path returned for {differ}")
            path = "http" if name == "serve" else "inproc"
            expected.setdefault(profile, {}).setdefault(path, {}).update(got)
            print(f"[record] {name}/{profile}: {len(got)} outputs", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0
