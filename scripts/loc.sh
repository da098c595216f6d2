#!/usr/bin/env bash
# Main-Scala code lines added and removed between <rev> and the working
# tree (untracked files under src/main/scala included).
# Usage: scripts/loc.sh <rev>
# A line counts when it holds code: blank lines, `//` comments and
# block/scaladoc comments are skipped; a line carrying code and a comment
# counts. Prints "added <n> removed <n> net <n>".
set -euo pipefail
cd "$(dirname "$0")/.."
rev=${1:?usage: scripts/loc.sh <rev>}
git rev-parse --verify --quiet "$rev^{commit}" >/dev/null ||
  { echo "unknown revision: $rev" >&2; exit 2; }

python3 - "$rev" <<'EOF'
import re
import subprocess
import sys

rev = sys.argv[1]
ROOT = "src/main/scala"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    """1-based numbers of the lines holding code outside comments and
    string literals (block comments nest, as in Scala)."""
    code, depth, i, n, line = set(), 0, 0, len(text), 1
    while i < n:
        ch = text[i]
        if ch == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':
                end += 1
            for _ in range(text.count("\n", i, end) + 1):
                code.add(line)
                line += 1
            line -= 1
            i = end
        elif ch == '"':
            code.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1
        elif ch == "'" and re.match(r"'(\\.[^']*|[^\\'\n])'", text[i:i + 8]):
            code.add(line)
            i = text.index("'", i + 2) + 1
        else:
            if not ch.isspace():
                code.add(line)
            i += 1
    return code


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
