#!/usr/bin/env python3
"""Re-pin the mix_sf0.1 checksums (perfbench/expected/mix_sf0.1.json).

Runs every mix op once on perfbench/data/sf0.1, writes its output and
oracle SQL in graft.Verify's layout, checks the outputs against DuckDB
with the engine's tools/parity.py, and pins the checksums only if every
op with an oracle matches. Run from the repository root:

    python3 perfbench/pin.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main() -> int:
    cp = build.build()
    work = os.path.join(build.OUT, "work", "pin")
    out = os.path.join(work, "outputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(HERE, "data", "sf0.1")
    cmd = ["java", f"-Xmx{run.HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in run.OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", "mix_sf0.1", "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", data, "--expected", os.path.join(HERE, "expected"),
            "--work", work, "--pin", out]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True, cwd=build.ROOT)
    pinned = json.loads(res.stdout.strip().splitlines()[-1])
    parity = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "parity.py"), data, out],
                            stdout=subprocess.PIPE, text=True)
    print(parity.stdout)
    if parity.returncode != 0:
        print("pin: DuckDB parity failed; checksums not pinned", file=sys.stderr)
        return 1
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    for name, v in pinned["ops"].items():
        v["oracle"] = "duckdb-match" if name in oracles else "none"
    with open(os.path.join(HERE, "expected", "mix_sf0.1.json"), "w") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
