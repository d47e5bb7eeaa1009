"""Pre-snapshot corpus gate.

Rounds 6 and 7 both ended with red corpus files at HEAD because the
final commit batch changed translate()/registry paths without a corpus
re-run. This gate makes the re-run mechanical: it runs the full SLT
corpus (tests/test_slt_corpus.py — the long pole of the suite) and
exits nonzero on any failure, printing the failing file list compactly.

Usage:
    python tools/corpus_gate.py            # full corpus (the real gate)
    python tools/corpus_gate.py -k EXPR    # targeted subset while iterating

Rule of thumb: any commit that touches myduckdb_spark/sql.py,
functions/registry.py, functions/jsonx.py, io.py or tools/slt.py runs
the FULL gate before it is allowed into the end-of-round snapshot.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    args = sys.argv[1:]
    cmd = [
        sys.executable, "-m", "pytest",
        "tests/test_slt_corpus.py", "-q", "--no-header", "-p", "no:warnings",
    ] + args
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True,
        timeout=2 * 60 * 60,
    )
    out = proc.stdout + proc.stderr
    failed = re.findall(r"FAILED (\S+?::\S+)", out)
    summary = ""
    for line in out.splitlines()[::-1]:
        if re.search(r"\d+ (passed|failed|deselected)", line):
            summary = line.strip()
            break
    if failed:
        print("CORPUS GATE: RED — do NOT snapshot. Failing files:")
        for f in failed:
            print(f"  {f}")
        print(summary)
        return 1
    if proc.returncode != 0:
        print("CORPUS GATE: pytest exited nonzero without FAILED lines "
              "(collection error?) — inspect manually.")
        print(out[-3000:])
        return proc.returncode
    print(f"CORPUS GATE: green. {summary}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
