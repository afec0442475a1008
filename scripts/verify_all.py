#!/usr/bin/env python
"""Round-close verification entry: oracle check + plan audit, one artifact.

Runs scripts/check_oracles.py (every registry query vs its DuckDB oracle at
sf0.01) and scripts/audit_plans.py (physical-plan red-flag scan) as
subprocesses, then writes a single committed artifact —
BENCH/VERIFY_<tag>.md — with both verdict lines and full logs. Exit code is
non-zero if either stage fails.

Usage: python scripts/verify_all.py [tag]      (default tag: r05)
Or:    make verify
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TAG = sys.argv[1] if len(sys.argv) > 1 else "r05"
SF_DIR = "/root/testdata/sf0.01"


def run(cmd: list[str]) -> tuple[int, str, float]:
    t0 = time.monotonic()
    try:
        p = subprocess.run(
            cmd, cwd=REPO, text=True, capture_output=True, timeout=3600
        )
        rc, stdout, stderr = p.returncode, p.stdout, p.stderr
    except subprocess.TimeoutExpired as exc:
        # still produce an artifact naming the hung stage rather than
        # aborting with no record of what hung
        rc = 124
        stdout = (exc.stdout or b"").decode(errors="replace") if isinstance(
            exc.stdout, bytes
        ) else (exc.stdout or "")
        stderr = "TIMEOUT after 3600s: " + " ".join(cmd)
    el = time.monotonic() - t0
    # keep stdout (the per-query lines); drop Spark's stderr chatter except
    # genuine errors/tracebacks (log4j logs upper-case ERROR)
    err_tail = "\n".join(
        ln
        for ln in stderr.splitlines()
        if any(t in ln.lower() for t in ("error", "traceback", "exception", "timeout"))
    )
    out = stdout + ("\n[stderr]\n" + err_tail if err_tail else "")
    return rc, out, el


def main() -> None:
    stages = {
        "oracles": [sys.executable, "scripts/check_oracles.py", SF_DIR],
        "plans": [sys.executable, "scripts/audit_plans.py", SF_DIR],
    }
    results = {}
    for name, cmd in stages.items():
        print(f"== {name}: {' '.join(cmd[1:])}", flush=True)
        rc, out, el = run(cmd)
        results[name] = (rc, out, el)
        print(out.splitlines()[-1] if out.strip() else "(no output)", flush=True)

    oracle_rc, oracle_out, oracle_el = results["oracles"]
    plan_rc, plan_out, plan_el = results["plans"]
    # "ok " = hash-compared pass; "ok?" = rows-only pass (no oracle SQL) —
    # counted apart so the table does not overstate hash-compared coverage
    lines = oracle_out.splitlines()
    n_ok = sum(1 for ln in lines if ln.startswith("ok "))
    n_rows_only = sum(1 for ln in lines if ln.startswith("ok?"))
    verdict_oracle = next(
        (ln for ln in lines if ln.startswith("RESULT:")), "RESULT: ?"
    )
    verdict_plan = next(
        (
            ln
            for ln in plan_out.splitlines()
            if ln.startswith("PLAN AUDIT") or ln.startswith("RED FLAGS")
        ),
        "PLAN AUDIT: ?",
    )

    art = REPO / "BENCH" / f"VERIFY_{TAG}.md"
    art.write_text(
        f"""# VERIFY {TAG}

Single round-close verification artifact (`make verify`): every registry
query hash-compared against its DuckDB oracle at sf0.01, then the
physical-plan red-flag audit over the same registry.

| stage | verdict | queries ok | elapsed |
|---|---|---|---|
| oracle check (`scripts/check_oracles.py {SF_DIR}`) | {verdict_oracle} | {n_ok} + {n_rows_only} rows-only | {oracle_el:.0f}s |
| plan audit (`scripts/audit_plans.py {SF_DIR}`) | {verdict_plan} | — | {plan_el:.0f}s |

## Oracle check log

```
{oracle_out.strip()}
```

## Plan audit log

```
{plan_out.strip()}
```
"""
    )
    print(f"wrote {art}")
    print(verdict_oracle)
    print(verdict_plan)
    sys.exit(1 if (oracle_rc or plan_rc) else 0)


if __name__ == "__main__":
    main()
