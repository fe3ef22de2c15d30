#!/usr/bin/env python3
"""List the defs in src/main that no code reaches; exit 1 on any not allowed.

Comments are stripped from src/main, tools-src and perfbench/src first, so a
doc mention or [[link]] is no caller. A def of object Obj is reached by
`Obj.name` or (an apply) `Obj(` anywhere, or by a bare `name` not preceded by
`.` in its own file; a class member by `.name` anywhere. `override`s and
`main`s are entry points. SparkEntry's calls count; its own defs are cells.
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
    # maintenance of stores that a cell or the ingest path writes
    "ArchiveStore.compact", "RegistryMaintenance.maintainAll", "RegistryFs.*",
    "StreamingCc.compactRegistry", "StreamingCc.compactRegistryBucketed",
    "StreamingGraph.compactRegistry", "StreamingGraph.compactRegistryBucketed",
    "StreamingEr.compactRegistry", "StreamingEr.compactRegistryBucketed",
    "StreamingDedup.compactSubstringRegistry", "StreamingDedup.compactCountRegistry",
    "Formula.eval",  # the reference interpreter FormulaSpec checks compile against
}
# Reached only from specs: deleting one deletes the cases that cover only it.
SPEC_ONLY = set("""
    Dedup.shingles Dedup.simhashBands EntityResolution.candidatePairsMulti
    Relational.semiJoinFilter Relational.timeRange Relational.saltedJoin
    Similarity.ivfSq8IndexAppend Similarity.ivfPqIndexAppend Similarity.ivfIndexCompact
    Similarity.semDedupInit Similarity.semDedupIncrement TextOps.importanceScoresLog
    DerivedStream.windowedRollup DerivedStream.sessionRollup
    DerivedStream.correlateStreams DerivedStream.hllRollup StreamingAttribution.batchStep
    StreamingDedup.batchStep StreamingDedup.compactRegistry StreamingDedup.canonBatchStep
    StreamingDedup.substringBatchStep StreamingDedup.cdcBatchStep
    StreamingDedup.noveltyBatchStep StreamingDedup.driftBatchStep
    StreamingDedup.boilerplateBatchStep StreamingSketch.kmvBatchStep
    StreamingSketch.kmvCurrent StreamingStats.cardBatchStep StreamingStats.cardCurrent
""".split())
TOKENS = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*[\s\S]*?\*/')
OWNER = re.compile(r"^([ \t]*)(?:[\w\[\]]+[ \t]+)*(object|class|trait)[ \t]+(\w+)", re.M)
DEF = re.compile(r"^([ \t]*)((?:[\w\[\]]+[ \t]+)*)def[ \t]+(\w+)", re.M)


def strip(text):
    """Blank out comments, keeping line breaks and string literals."""
    return TOKENS.sub(lambda m: m[0] if m[0].startswith('"') else re.sub(r"[^\n]", " ", m[0]), text)


def reached(name, owner, kind, own, corpus):
    if re.search(rf"(?<![.\w])(?<!def ){name}\b", own):
        return True
    if kind != "object":
        return re.search(rf"\.{name}\b", corpus) is not None
    return bool(re.search(rf"\b{owner}\.{name}\b", corpus) or (name == "apply" and re.search(rf"\b{owner}\(", corpus)))


def main():
    src = {p: strip(p.read_text()) for r in ROOTS for p in sorted(pathlib.Path(r).rglob("*.scala"))}
    corpus, bad = "\n".join(src.values()), 0
    for path, text in src.items():
        if not str(path).startswith("src/main") or path.name == "SparkEntry.scala":
            continue
        owners = [(m.start(), len(m[1]), m[2], m[3]) for m in OWNER.finditer(text)]
        for d in DEF.finditer(text):
            enclosing = [o for o in owners if o[0] < d.start() and o[1] < len(d[1])]
            if "override" in d[2].split() or d[3] == "main" or not enclosing:
                continue
            _, _, kind, owner = enclosing[-1]
            if reached(d[3], owner, kind, text[:d.start()] + text[d.end():], corpus):
                continue
            qual = f"{owner}.{d[3]}"
            tag = "keep" if qual in KEEP or f"{owner}.*" in KEEP else "spec-only" if qual in SPEC_ONLY else "NOT ALLOWED"
            bad += tag == "NOT ALLOWED"
            print(f"{qual:44} {f'{path}:{text.count(chr(10), 0, d.start()) + 1}':58} {tag}")
    print(f"{bad} not allowed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
