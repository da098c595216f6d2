#!/usr/bin/env bash
# Main-Scala code lines added and removed between <rev> and the working
# tree (untracked files under src/main/scala included).
# Usage: scripts/loc.sh <rev>
# A line counts when it holds code: blank lines, `//` comments and
# block/scaladoc comments are skipped; a line carrying code and a comment
# counts (the scanner is scripts/scala_scan.py). Prints
# "added <n> removed <n> net <n>".
set -euo pipefail
cd "$(dirname "$0")/.."
rev=${1:?usage: scripts/loc.sh <rev>}
git rev-parse --verify --quiet "$rev^{commit}" >/dev/null ||
  { echo "unknown revision: $rev" >&2; exit 2; }

python3 - "$rev" <<'EOF'
import re
import subprocess
import sys

sys.path.insert(0, "scripts")
from scala_scan import scan  # noqa: E402

rev = sys.argv[1]
ROOT = "src/main/scala"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    return scan(text)[0]


def source(spec):
    try:
        return git("show", spec)
    except subprocess.CalledProcessError:
        return ""


tracked = git("diff", "--name-only", rev, "--", ROOT).split()
untracked = git("ls-files", "--others", "--exclude-standard", "--",
                ROOT).split()
added = removed = 0
for path in sorted(set(tracked) | set(untracked)):
    if not path.endswith(".scala"):
        continue
    try:
        with open(path, encoding="utf-8") as f:
            new = f.read()
    except FileNotFoundError:
        new = ""
    old_code = code_lines(source(f"{rev}:{path}"))
    new_code = code_lines(new)
    if path in untracked:
        added += len(new_code)
        continue
    hunks = re.findall(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@",
                       git("diff", "-U0", rev, "--", path), re.M)
    for a, b, c, d in hunks:
        a, b, c, d = int(a), int(b or 1), int(c), int(d or 1)
        removed += sum(1 for k in range(a, a + b) if k in old_code)
        added += sum(1 for k in range(c, c + d) if k in new_code)
print(f"added {added} removed {removed} net {added - removed:+d}")
EOF
