#!/usr/bin/env python3
"""Reachability gate: main code serves a registered query, a main, the
perfbench harness or a framework hook, or it goes.

    python3 scripts/reach.py

Walks the main Scala sources by name. A definition is a top-level
`object`/`class`/`trait` or one of its direct members (`def`, `val`,
`var`, `type`, nested `object`/`class`). The roots are:

- `SparkEntry` (the driver contract: the query registry and the entry);
- every `main` method;
- every name the perfbench harness sources mention;
- every `override` and `implicit` definition, and the methods the syntax
  calls without naming them (`apply`, `unapply`, `update`);
- the classes listed under `src/main/resources/META-INF/services`, and
  any `graft.` class name written in a string literal (a class Spark or
  Hadoop loads by name).

A reached name reaches every definition of that name, and a reached
definition reaches the names its code uses and the object holding it. Comments, string literals
(their `$`-splices excepted) and import lines never reach anything. The
match is by simple name, so it errs toward keeping code: a dead
definition that shares its name with a live one is not reported.

A definition that no root reaches fails the gate: "test-only" when the
tests reach it, "unreferenced" otherwise. Definitions kept on purpose are
listed in scripts/reach_allow.txt, one `Owner.name Spec` per line
(`Owner` alone for a top-level definition): a definition a test calls and
main code does not reach, and `Spec`, the test suite that pins it and
mentions its name. An allow-listed definition keeps what it calls. An
entry that main code reaches, or that no test calls, fails the gate too,
so the list only shrinks. Exit status 1 on any finding."""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "scripts"))
from scala_scan import scan  # noqa: E402

MAIN = ROOT / "src" / "main" / "scala"
TEST = ROOT / "src" / "test" / "scala"
HARNESS = ROOT / "perfbench" / "src"
SERVICES = ROOT / "src" / "main" / "resources" / "META-INF" / "services"
ALLOW = ROOT / "scripts" / "reach_allow.txt"

DEF = re.compile(
    r"^(?P<ind>(?:  )?)(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|"
    r"override\s+|final\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+|"
    r"case\s+)*)(?:def|val|var|object|class|trait|type)\s+(?P<name>[A-Za-z_]\w*)")
IDENT = re.compile(r"[A-Za-z_]\w*")
FQCN = re.compile(r'"graft\.[\w.$]*?([A-Za-z_]\w*)"')
# methods the syntax calls without naming them: `X(..)`, patterns, `x(i) = v`
IMPLICIT_CALLS = {"apply", "unapply", "unapplySeq", "update"}


class Def:
    def __init__(self, path, line, owner, name, mods):
        self.path, self.line, self.owner, self.name = path, line, owner, name
        self.mods = mods
        self.refs = set()   # identifiers in the code this definition runs

    @property
    def label(self):
        return self.name if self.owner is None else f"{self.owner}.{self.name}"


def idents(lines):
    out = set()
    for ln in lines:
        if not ln.lstrip().startswith("import "):
            out.update(IDENT.findall(ln))
    return out


def names_in(path):
    """The identifiers a Scala file's code uses."""
    return idents(scan(path.read_text(encoding="utf-8"))[1].split("\n"))


def indent(ln):
    return len(ln) - len(ln.lstrip(" "))


def definitions(path):
    """The top-level definitions of one file and their direct members."""
    text = path.read_text(encoding="utf-8")
    lines = scan(text)[1].split("\n")
    defs, top, members = [], None, []

    def close(upto):
        if top is None:
            return
        own = set(range(top_start, upto))
        for d, (a, b) in members:
            d.refs = idents(lines[a:b])
            own -= set(range(a, b))
            defs.append(d)
        top.refs = idents(lines[k] for k in sorted(own))
        defs.append(top)

    top_start = 0
    i = 0
    while i < len(lines):
        ln = lines[i]
        if not ln.strip():
            i += 1
            continue
        m = DEF.match(ln)
        if indent(ln) == 0:
            if ln.lstrip()[0] in "})":
                i += 1
                continue
            close(i)
            top, members = None, []
            if m:
                top = Def(path, i + 1, None, m["name"], m["mods"])
                top_start = i
            i += 1
            continue
        if top is not None and m and m["ind"] == "  ":
            j = i + 1
            while j < len(lines):
                nxt = lines[j]
                if nxt.strip() and (indent(nxt) < 2 or (
                        indent(nxt) == 2 and nxt.lstrip()[0] not in "})].")):
                    break
                j += 1
            members.append((Def(path, i + 1, top.name, m["name"], m["mods"]),
                            (i, j)))
            i = j
            continue
        i += 1
    close(len(lines))
    return defs, text


def main():
    defs, texts = [], []
    for p in sorted(MAIN.rglob("*.scala")):
        d, t = definitions(p)
        defs += d
        texts.append(t)
    by_name = {}
    for d in defs:
        by_name.setdefault(d.name, []).append(d)
    tops = {d.name: d for d in defs if d.owner is None}

    roots = set(IMPLICIT_CALLS) | {"SparkEntry"}
    for p in HARNESS.rglob("*.scala"):
        roots |= names_in(p)
    for p in SERVICES.glob("*"):
        roots |= {ln.strip().rsplit(".", 1)[-1]
                  for ln in p.read_text().splitlines() if ln.strip()}
    for t in texts:
        roots |= set(FQCN.findall(t))
    hooks = [d for d in defs if d.name == "main" or "override" in d.mods
             or "implicit" in d.mods or d.owner == "SparkEntry"]

    def reach(names, start):
        """ids of the definitions reached from root names and definitions."""
        work = list(start) + [d for n in names for d in by_name.get(n, [])]
        seen_names, seen = set(names), set()
        while work:
            d = work.pop()
            if id(d) in seen:
                continue
            seen.add(id(d))
            if d.owner is not None and d.owner in tops:
                work.append(tops[d.owner])
            for n in d.refs - seen_names:
                seen_names.add(n)
                work += by_name.get(n, [])
        return seen

    test_names = set()
    for p in TEST.rglob("*.scala"):
        test_names |= names_in(p)
    from_main = reach(roots, hooks)
    # what a test calls directly, and main code does not reach
    test_only = {d.label: d for d in defs
                 if id(d) not in from_main and d.name in test_names}

    failures, kept = [], []
    for k, raw in enumerate(ALLOW.read_text().splitlines(), 1):
        entry = raw.split("#", 1)[0].split()
        if not entry:
            continue
        if len(entry) != 2:
            failures.append(f"{ALLOW.name}:{k}: expected 'Owner.name Spec': {raw}")
            continue
        label, spec = entry
        name = label.rsplit(".", 1)[-1]
        specs = list(TEST.rglob(f"{spec}.scala"))
        if label not in test_only:
            failures.append(f"{ALLOW.name}:{k}: stale entry {label}: main code "
                            "reaches it, no test calls it, or it is gone")
            continue
        if not specs or not re.search(rf"\b{re.escape(name)}\b",
                                      specs[0].read_text(encoding="utf-8")):
            failures.append(f"{ALLOW.name}:{k}: {spec} does not mention {name}")
        kept.append(test_only[label])
    # an allow-listed definition keeps what it calls
    live = reach(roots, hooks + kept)
    from_tests = reach(test_names, [])
    dead = [d for d in defs if id(d) not in live]
    for d in sorted(dead, key=lambda d: (str(d.path), d.line)):
        kind = "test-only" if id(d) in from_tests else "unreferenced"
        failures.append(f"{d.path.relative_to(ROOT)}:{d.line}: {d.label} "
                        f"({kind})")
    for f in failures:
        print(f)
    print(f"reach: {len(defs)} main definitions, {len(kept)} allow-listed, "
          f"{len(dead)} unreached, {len(failures)} findings")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
