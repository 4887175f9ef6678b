#!/usr/bin/env python
"""Install the repo's git pre-commit hook (registry smoke).

Idempotent; run once per clone: ``python tools/install_hooks.py``.
"""

from __future__ import annotations

import os
import stat

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK = os.path.join(REPO, ".git", "hooks", "pre-commit")

SCRIPT = """#!/bin/sh
# Registry smoke: a commit must never leave the workload catalog
# inconsistent (round-9 failure mode). ~0.5s.
python "$(git rev-parse --show-toplevel)/tools/registry_smoke.py" || {
  echo "pre-commit: workload catalog failed the registry smoke (error above)" >&2
  exit 1
}
"""


def main() -> None:
    os.makedirs(os.path.dirname(HOOK), exist_ok=True)
    if os.path.exists(HOOK):
        with open(HOOK) as f:
            existing = f.read()
        if existing == SCRIPT:
            print(f"already installed {HOOK}")
            return
        backup = HOOK + ".bak"
        os.replace(HOOK, backup)
        print(f"existing pre-commit hook differs — backed up to {backup}")
    with open(HOOK, "w") as f:
        f.write(SCRIPT)
    os.chmod(HOOK, os.stat(HOOK).st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
    print(f"installed {HOOK}")


if __name__ == "__main__":
    main()
