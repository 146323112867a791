"""One-command per-round gate: runs every check the verify recipe
lists, in order, each in a FRESH process (the driver does the same —
stale in-process registries and cached Spark sessions have hidden
failures before), and prints a one-line verdict per gate plus an
overall pass/fail exit code.

Usage: PYTHONPATH=/root/repo python tools/round_gate.py [--fast]

  --fast   pytest runs the fast tier (-m "not slow", ~2 min) instead
           of the full suite (~21 min). The FULL suite remains the
           ship gate; --fast is the mid-round sanity loop.

Gates, in order:
  1. driver contract  — bare-session entry()/queries()/oracle_sql()
  2. oracle parity    — tools/oracle_check.py, full registry, sf0.01
  3. pytest           — full suite (or fast tier with --fast)
  4. perfbench tests  — perfbench/tests, which `pytest tests/` does
                        not collect
  5. bench line       — bench.py prints ONE parseable JSON line,
                        under the driver's ~2 KB tail window
  6. artifacts        — registry_dump (QUERIES.md + count stamps)
                        and plan_audit (PLANS.md) run clean
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER_PROBE = """
import importlib.util
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", %r)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false").getOrCreate())
n = mod.entry(spark).count()
assert n > 0, "entry() returned no rows"
qs, osql = mod.queries(), mod.oracle_sql()
assert set(osql) <= set(qs), "oracle without a query"
print(f"entry rows={n}, {len(qs)} queries, {len(osql)} oracles")
""" % os.path.join(ROOT, "__spark_entry__.py")


def run(name: str, cmd: list[str], cwd: str = ROOT) -> tuple[bool, str]:
    t0 = time.time()
    env = dict(os.environ, PYTHONPATH=ROOT)
    p = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True,
                       text=True)
    dt = time.time() - t0
    tail = (p.stdout.strip().splitlines() or [""])[-1]
    ok = p.returncode == 0
    print(f"{'PASS' if ok else 'FAIL'}  {name:16s} [{dt:7.1f}s]  {tail}")
    if not ok:
        sys.stdout.write(p.stdout[-2000:] + "\n" + p.stderr[-2000:]
                         + "\n")
    return ok, p.stdout


def main() -> int:
    fast = "--fast" in sys.argv
    results = []

    results.append(run("driver-contract",
                       [sys.executable, "-c", DRIVER_PROBE],
                       cwd="/tmp")[0])

    ok, out = run("oracle-parity",
                  [sys.executable, "tools/oracle_check.py"])
    # oracle_check exits 0 even on failures in some paths; parse the
    # summary line defensively
    ok = ok and ", 0 fail," in out.strip().splitlines()[-1]
    results.append(ok)

    # pytest.ini defaults to the fast tier (addopts -m "not slow",
    # r15); the FULL gate must explicitly override it back to
    # everything — a later -m on the command line wins.
    pytest_cmd = [sys.executable, "-m", "pytest", "tests/", "-q"]
    if fast:
        pytest_cmd += ["-m", "not slow"]
    else:
        pytest_cmd += ["-m", ""]
    results.append(run("pytest" + (" (fast)" if fast else ""),
                       pytest_cmd)[0])
    results.append(run("perfbench-tests",
                       [sys.executable, "-m", "pytest", "perfbench/tests",
                        "-q"])[0])

    ok, out = run("bench-line", [sys.executable, "bench.py"])
    if ok:
        line = out.strip().splitlines()[-1]
        try:
            parsed = json.loads(line)
            assert {"metric", "value", "queries", "sf"} <= set(parsed)
            assert len(line) < 2000, \
                f"bench line {len(line)}B risks the tail window"
            print(f"      bench total={parsed['value']}s "
                  f"({len(parsed['queries'])} queries, "
                  f"{len(line)} bytes)")
        except (json.JSONDecodeError, AssertionError) as err:
            print(f"FAIL  bench-line      {err}")
            ok = False
    results.append(ok)

    results.append(run("registry-dump",
                       [sys.executable, "tools/registry_dump.py"])[0])
    results.append(run("plan-audit",
                       [sys.executable, "tools/plan_audit.py"])[0])

    print(f"\n{'ALL GATES GREEN' if all(results) else 'GATES FAILED'}"
          f" ({sum(results)}/{len(results)})")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
