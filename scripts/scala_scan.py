"""String-aware Scala source scanner shared by scripts/loc.sh and
scripts/reach.py."""
import re

_SPLICE = re.compile(r"\$\{[^}]*\}|\$[A-Za-z_]\w*")


def scan(text):
    """(code, bare) for one Scala source text.

    `code` is the set of 1-based numbers of the lines holding code outside
    comments and string literals; a line carrying a literal counts, and so
    does every line a triple-quoted literal spans. Block comments nest, as
    in Scala.

    `bare` is `text` with every comment and the characters of every string
    and char literal blanked to spaces (newlines kept, so line numbers and
    columns hold), except the `$name` and `${...}` splices of an
    interpolated string."""
    bare = list(text)

    def blank(a, b, interpolated=False):
        keep = set()
        if interpolated:
            for m in _SPLICE.finditer(text, a, b):
                keep.update(range(m.start(), m.end()))
        for k in range(a, min(b, len(bare))):
            if bare[k] != "\n" and k not in keep:
                bare[k] = " "

    code, depth, i, n, line = set(), 0, 0, len(text), 1
    while i < n:
        ch = text[i]
        if ch == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, step = depth + 1, 2
            elif text.startswith("*/", i):
                depth, step = depth - 1, 2
            else:
                step = 1
            blank(i, i + step)
            i += step
        elif text.startswith("//", i):
            start = i
            while i < n and text[i] != "\n":
                i += 1
            blank(start, i)
        elif text.startswith("/*", i):
            blank(i, i + 2)
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':
                end += 1
            blank(i + 3, max(i + 3, end - 3), interpolated)
            for _ in range(text.count("\n", i, end) + 1):
                code.add(line)
                line += 1
            line -= 1
            i = end
        elif ch == '"':
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            code.add(line)
            i += 1
            start = i
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            blank(start, i, interpolated)
            i += 1
        elif ch == "'" and re.match(r"'(\\.[^']*|[^\\'\n])'", text[i:i + 8]):
            code.add(line)
            end = text.index("'", i + 2) + 1
            blank(i + 1, end - 1)
            i = end
        else:
            if not ch.isspace():
                code.add(line)
            i += 1
    return code, "".join(bare)
