#!/usr/bin/env python3
"""List the defs in src/main that no code reaches; exit 1 on any not allowed.

Comments are stripped from src/main, tools-src and perfbench/src first, so a
doc mention or [[link]] is no caller. A def of object Obj is reached by
`Obj.name` or (an apply) `Obj(` anywhere, or by a bare `name` not preceded by
`.` in its own file; a class member by `.name` anywhere, unless the receiver
before the dot names an object (`Plant.upsertArchive` calls Plant's, not a
class's member). `override`s and `main`s are entry points. SparkEntry's calls
count; its own defs are cells.

The scan runs to a fixed point: the body of every unreached def not on the
allowlist is blanked and the scan repeats, so a def that only dead code
reaches is listed too. Exit 0 iff every listed def is allowlisted and every
KEEP entry allows at least one listed def (a stale entry is printed).
Run from the repo root: python3 tools/uncalled.py
"""
import pathlib
import re
import sys

ROOTS = ["src/main", "tools-src", "perfbench/src"]
KEEP = {
    "GraftApi.*",  # the reference's API routes
    "Catalog.repopulate",  # reference M6
    # reference ingest behaviour still waiting for a caller on the PI path
    "Ingest.incrementalStart", "Ingest.densityOk", "Ingest.hourlyChunks",
    "TreeCache.*",  # reference extract_leaf_nodes.py
    "ArchiveStore.compact",  # maintenance of the archive the ingest path writes
    "Formula.eval",  # the reference interpreter FormulaSpec checks compile against
}
TOKENS = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/')
OWNER = re.compile(r"^([ \t]*)(?:[\w\[\]]+[ \t]+)*(object|class|trait)[ \t]+(\w+)", re.M)
DEF = re.compile(r"^([ \t]*)((?:[\w\[\]]+[ \t]+)*)def[ \t]+(\w+)", re.M)


def blank(text):
    return re.sub(r"[^\n]", " ", text)


def strip(text):
    """Blank out comments, keeping line breaks and string literals."""
    return TOKENS.sub(lambda m: m[0] if m[0].startswith('"') else blank(m[0]), text)


def body_end(text, d):
    """End offset of def `d`: the next non-blank line indented no deeper,
    a closing brace at the def's own indent included."""
    indent = len(d[1])
    pos = text.find("\n", d.end())
    while pos != -1:
        nxt = text.find("\n", pos + 1)
        line = text[pos + 1:nxt if nxt != -1 else len(text)]
        depth = len(line) - len(line.lstrip())
        if line.strip() and depth <= indent:
            return nxt if line.strip() == "}" and depth == indent and nxt != -1 else pos
        pos = nxt
    return len(text)


def reached(name, owner, kind, own, corpus, objects):
    if re.search(rf"(?<![.\w])(?<!def ){name}\b", own):
        return True
    if kind != "object":
        return any(m[1] not in objects for m in re.finditer(rf"(\w*)\.{name}\b", corpus))
    return bool(re.search(rf"\b{owner}\.{name}\b", corpus) or (name == "apply" and re.search(rf"\b{owner}\(", corpus)))


def unreached(src):
    """(qual, path, line, def match) of every def in src/main nothing reaches."""
    corpus = "\n".join(src.values())
    objects = {m[3] for m in OWNER.finditer(corpus) if m[2] == "object"}
    out = []
    for path, text in src.items():
        if not str(path).startswith("src/main") or path.name == "SparkEntry.scala":
            continue
        owners = [(m.start(), len(m[1]), m[2], m[3]) for m in OWNER.finditer(text)]
        for d in DEF.finditer(text):
            enclosing = [o for o in owners if o[0] < d.start() and o[1] < len(d[1])]
            if "override" in d[2].split() or d[3] == "main" or not enclosing:
                continue
            _, _, kind, owner = enclosing[-1]
            if not reached(d[3], owner, kind, text[:d.start()] + text[d.end():], corpus, objects):
                out.append((f"{owner}.{d[3]}", path, text.count("\n", 0, d.start()) + 1, d))
    return out


def allows(entry, qual):
    return entry in (qual, f"{qual.split('.')[0]}.*")


def allowed(qual):
    return any(allows(k, qual) for k in KEEP)


def main():
    src = {p: strip(p.read_text()) for r in ROOTS for p in sorted(pathlib.Path(r).rglob("*.scala"))}
    found = set()
    while True:
        fresh = [u for u in unreached(src) if u[:3] not in found]
        if not fresh:
            break
        found.update(u[:3] for u in fresh)
        # blank dead bodies back to front so earlier offsets stay valid
        for qual, path, line, d in sorted(fresh, key=lambda u: -u[3].start()):
            if not allowed(qual):
                text = src[path]
                end = body_end(text, d)
                src[path] = text[:d.start()] + blank(text[d.start():end]) + text[end:]
    bad = 0
    for qual, path, line in sorted(found, key=lambda u: (str(u[1]), u[2])):
        tag = "keep" if allowed(qual) else "NOT ALLOWED"
        bad += tag == "NOT ALLOWED"
        print(f"{qual:44} {f'{path}:{line}':58} {tag}")
    stale = sorted(k for k in KEEP if not any(allows(k, u[0]) for u in found))
    for k in stale:
        print(f"{k:44} {'KEEP entry allows no listed def':58} STALE")
    print(f"{bad} not allowed, {len(stale)} stale KEEP entries")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
