#!/usr/bin/env python3
"""Reachability check of the engine's main sources.

Usage, from the repository root:

    python3 dev/reach.py          # exit 1 if an unreached public def is found
    python3 dev/reach.py --all    # also print the allowlist

A definition (`def`, `val`, `var`, `object`, `class`, `trait`, `type`) in
`src/main/scala` is REACHED when its name occurs as an identifier in the
body of a reached definition. The roots are every definition in the root
files below (the graded queries, the four blueprint verbs and the harness)
and every identifier in `layerbench/src`. The closure is by name alone: a
reference to `score` reaches every `score`, whichever object holds it, so
the check under-reports and never flags a name that is used. Comments and
the literal text of strings are not references; the code of `${...}` in an
interpolated string is. A reached definition also reaches its enclosing
definitions (an object's initialiser runs before its members), and the
members it owns that the compiler or a library calls without naming them:
`override` and `implicit` members and `apply`/`unapply`.

Nested definitions inside a `def` or `val` body belong to that body and are
not tracked on their own. Only PUBLIC definitions are reported: the
topmost unreached one of each subtree, neither it nor an enclosing
definition `private` or `protected`.

Exit status: 0 when every unreached public definition is on ALLOW, 1
otherwise (each is printed as `path:line qualified.name`).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
LAYERBENCH = os.path.join(ROOT, "layerbench", "src")

# graded queries (via SparkEntry), the four verbs, and the harness
ROOT_FILES = [
    "graft/SparkEntry.scala", "graft/Blueprints.scala",
    "graft/cli/BlueprintCli.scala", "graft/Bench.scala", "graft/Verify.scala",
    "graft/Dev.scala", "graft/ScaleCurve.scala", "graft/GraftSession.scala",
    "graft/GraftExtensions.scala", "graft/Tables.scala",
]
ROOT_DIRS = ["graft/queries"]

# qualified name -> why it stays although no root names it. An allowed
# definition is a root itself: what it uses is reached.
ALLOW = {
    "graft.streaming.BlueprintStream.continuousUpload":
        "the continuous-upload verb, to be wired into BlueprintCli",
    # reference ports that specs use as oracles
    "graft.functions.PathAlg.basename":
        "reference X3 port; PathFunctionsSpec checks the column form on it",
    "graft.functions.PathAlg.enumerateDestinationFileName":
        "reference X4 port; PathFunctionsSpec checks the column form on it",
    "graft.functions.PathAlg.determineDestinationFileName":
        "reference X5 port; PathFunctionsSpec checks the column form on it",
    "graft.ext.Bpe.encodeBytes":
        "byte-level encoder the BPE and *Shards specs compare the graded "
        "encode against",
    "graft.ext.Dedup.minhashes":
        "per-row form of the signature index; DedupSpec oracle and the "
        "model of the DuckDB fragment",
    "graft.ext.Dedup.bandKeys":
        "per-row form of the band index; DedupSpec's band-store oracle",
    "graft.ext.Dedup.simhash":
        "per-row form of the simhash index; DedupSpec oracle",
    "graft.ext.TextAnalysis.simpsonIndex":
        "per-row form diversityStats is checked against bit for bit",
    "graft.ext.TextAnalysis.burstiness":
        "per-row form diversityStats is checked against bit for bit",
    "graft.ops.Triangles.triangles":
        "row form perVertex's count-only path is checked against",
    # other decisions
    "graft.catalog.AzureConf.ConnectionString.abfss":
        "the abfss URI of a parsed connection string; "
        "AbfssIntegrationSpec builds its remote base with it",
    "graft.ext.Multimodal.Decoder.decodeAudio":
        "audio half of the multimodal decoder; no graded table has audio",
    "graft.ext.Multimodal.Decoder.parseMp3Meta":
        "audio header parser, fuzzed by MultimodalFuzzSpec",
    "graft.ext.Multimodal.Decoder.parseFlacMeta":
        "audio header parser, fuzzed by MultimodalFuzzSpec",
    "graft.ext.Sft.PadId":
        "reserved-id table mirrors Bpe.SftSpecials position for position",
    "graft.ext.Sft.UnkId":
        "reserved-id table mirrors Bpe.SftSpecials position for position",
    # spec-pinned API that no verb calls yet: each still needs a caller
    # or a deletion (ROADMAP item 8)
    "graft.ext.Sketches.Kmv.jaccardEstimate":
        "per-sketch form of joinKeyOverlap's KMV set algebra; SketchesSpec",
    "graft.ext.Sketches.Kmv.intersectionEstimate":
        "per-sketch form of joinKeyOverlap's KMV set algebra; SketchesSpec",
    "graft.ops.ZOrder.layout":
        "z-order write layout over zkey; ZOrderSpec checks disjoint ranges",
    "graft.ext.Robots.sitemaps":
        "host-level Sitemap directives; FrontierSpec",
    "graft.ext.Similarity.semanticDedupPairs":
        "audit view of the pairs semanticDedupSurvivors drops; "
        "SimilaritySpec checks it against brute force",
    "graft.ext.Similarity.ivfPqAdd":
        "encode new vectors against a frozen IVF-PQ model; SimilaritySpec",
    "graft.ext.TextAnalysis.regexTokens":
        "raw-text word/punctuation pre-tokenizer; TextAnalysisSpec",
    "graft.ext.TextAnalysis.logisticScore":
        "scores every doc, tokenless ones at margin 0; TextAnalysisSpec",
    "graft.ops.RangeJoin.pointInIntervalAuto":
        "pointInInterval with a median-span width; RangeJoinSpec",
    "graft.ops.ShardShuffle.repartitionByShard":
        "one-exchange write shape of the shard shuffle; ShardShuffleSpec",
    "graft.ops.Transfer.syncPlan":
        "source-EXCEPT-destination catalog diff for a sync verb; "
        "SkewAndSinksSpec",
    "graft.ops.Transfer.compact":
        "small-file rewrite of one parquet directory; SkewAndSinksSpec",
    "graft.ops.Transfer.compactionPlan":
        "whole-catalog merge-group plan via packIntoBins; TransferSpec",
}

DEF_RE = re.compile(
    r"^(?P<indent>\s*)(?P<mods>(?:(?:private|protected)(?:\[[\w.]+\])?\s+"
    r"|override\s+|final\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+"
    r"|case\s+)*)(?P<kind>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)")
IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq"}


def strip_source(text):
    """Blank out comments and the literal text of strings, keeping every
    newline (so line numbers hold) and the code of interpolations."""
    out = []
    i, n = 0, len(text)

    def blank(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(text[i:j]))
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(text[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            triple = text.startswith('"""', i)
            close = '"""' if triple else '"'
            j = i + len(close)
            buf = []
            while j < n and not text.startswith(close, j):
                if not triple and text[j] == "\\":
                    buf.append("  ")
                    j += 2
                elif interp and text.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0)
                        k += 1
                    buf.append(" " + text[j + 1:k])
                    j = k
                elif interp and text[j] == "$" and j + 1 < n and (
                        text[j + 1].isalpha() or text[j + 1] == "_"):
                    m = IDENT_RE.match(text, j + 1)
                    buf.append(" " + m.group(0))
                    j = m.end()
                else:
                    buf.append("\n" if text[j] == "\n" else " ")
                    j += 1
            j = min(n, j + len(close))
            out.append(" " * len(close) + "".join(buf) + " " * len(close))
            i = j
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4])
            out.append(" " * m.end())
            i += m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out)


class Node:
    def __init__(self, name, kind, mods, indent, path, line, parent):
        self.name, self.kind, self.mods = name, kind, mods
        self.indent, self.path, self.line = indent, path, line
        self.parent, self.children, self.body = parent, [], []
        self.reached = False

    @property
    def private(self):
        return "private" in self.mods or "protected" in self.mods

    def qualified(self):
        parts, node = [], self
        while node is not None:
            parts.append(node.name)
            node = node.parent
        return ".".join(reversed(parts))


def parse(path):
    """The definition tree of one file, each node with its own lines."""
    with open(path, encoding="utf-8") as f:
        text = strip_source(f.read())
    pkg = re.findall(r"^package\s+([\w.]+)", text, re.M)
    top = Node(".".join(pkg), "package", "", -1, path, 0, None)
    stack = [top]
    for lineno, line in enumerate(text.split("\n"), 1):
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        while len(stack) > 1 and indent <= stack[-1].indent:
            stack.pop()
        m = DEF_RE.match(line)
        owner = stack[-1]
        if m and owner.kind in ("package", "object", "class", "trait"):
            node = Node(m.group("name").strip("`"), m.group("kind"),
                        m.group("mods"), indent, path, lineno, owner)
            owner.children.append(node)
            stack.append(node)
            node.body.append(line[m.end():])
        else:
            owner.body.append(line)
    return top


def walk(node):
    yield node
    for c in node.children:
        yield from walk(c)


def identifiers(lines):
    return set(IDENT_RE.findall("\n".join(lines)))


def main(argv):
    show_all = "--all" in argv
    files = []
    for d, dirs, names in os.walk(MAIN):
        dirs.sort()
        files += [os.path.join(d, x) for x in sorted(names)
                  if x.endswith(".scala")]
    roots = {os.path.join(MAIN, r) for r in ROOT_FILES}
    root_dirs = [os.path.join(MAIN, r) + os.sep for r in ROOT_DIRS]
    trees = [parse(p) for p in files]
    by_name = {}
    for t in trees:
        for node in walk(t):
            if node.kind != "package":
                by_name.setdefault(node.name, []).append(node)

    seen, todo = set(), []

    def refer(names):
        for x in names - seen:
            seen.add(x)
            todo.append(x)

    def reach(node):
        while node is not None and not node.reached:
            node.reached = True
            refer(identifiers(node.body))
            for c in node.children:
                if ("override" in c.mods or "implicit" in c.mods
                        or c.name in IMPLICIT_NAMES):
                    reach(c)
            node = node.parent

    for t in trees:
        rooted = t.path in roots or any(t.path.startswith(r)
                                        for r in root_dirs)
        for node in walk(t):
            if rooted or node.qualified() in ALLOW:
                reach(node)
    for d, _, names in os.walk(LAYERBENCH):
        for x in names:
            if x.endswith(".scala"):
                with open(os.path.join(d, x), encoding="utf-8") as f:
                    refer(identifiers([strip_source(f.read())]))
    while todo:
        for node in by_name.get(todo.pop(), []):
            reach(node)

    def unreached(node):
        if node.private:
            return
        if node.kind != "package" and not node.reached:
            yield node
            return
        for c in node.children:
            yield from unreached(c)

    bad = 0
    for t in trees:
        for node in unreached(t):
            bad += 1
            rel = os.path.relpath(node.path, ROOT)
            print(f"{rel}:{node.line} {node.qualified()}")
    if show_all:
        for q, why in ALLOW.items():
            print(f"allowed {q}  # {why}")
    stale = set(ALLOW) - {n.qualified() for t in trees for n in walk(t)}
    for q in sorted(stale):
        print(f"allowlist names no definition: {q}")
    print(f"== {bad} unreached public definition(s) ==")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
