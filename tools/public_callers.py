#!/usr/bin/env python3
"""List the members of src/main that nothing outside the specs calls.

Usage: python3 tools/public_callers.py

The engine's contract is the declared queries in SparkEntry, the perfbench
workloads and Engine's API verbs. A public `def`, `val` or `object` member
of a src/main template (object, class or trait body) is *called* when
another src/main file (tools included) or a perfbench/src file refers to
it, or its own file names it anywhere but its declaration. References in
src/test do not count. A member of a top-level object `O` is referred to as
`O.name`, through an alias (`val x = ...O`, then `x.name`), or by name in a
file that imports it (`import ...O._`, `import ...O.{name}`); two objects'
same-named members are told apart that way. A member of a class or trait
is matched by its bare name, since its receiver's type is not known here. Comments and string literals are stripped first, keeping the code of
`${...}` and `$name` interpolations (`Memo.dirStamp` is called only inside
interpolations).

Package-qualified private members (`private[graft]`) are listed the same
way: widening a member to the package is how test-only code hides in
src/main, so one whose only callers are specs is flagged SPEC-ONLY (move it
into the spec). Skipped without a listing: `override` members, members
declared `private`/`protected` without a package qualifier (or
`private[this]`), `main` (its caller is the JVM), `apply`/`unapply`, and members
that implement an abstract member of a known library supertype without the
`override` keyword (an `Aggregator`'s `zero`/`reduce`/...).

Every member that is not called must appear in KEEP with a one-line reason.
The script prints the KEEP table and exits 0; it exits 1 after listing each
uncalled member missing from KEEP, and each KEEP entry that is stale (the
member is gone, or now has a caller).
"""
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# "File.scala:name" -> why it stays without a caller outside the specs.
KEEP = {
    "Engine.scala:createIndexIfMissing":
        "API verb: create the empty index table if absent",
    "Engine.scala:deleteByIds":
        "API verb: delete vectors by id",
    "Engine.scala:health":
        "API verb: GET /health (main.py)",
    "Engine.scala:pruneIndexVersions":
        "API verb: drop index versions below the serving one",
    "SparkEntry.scala:entry":
        "smoke entry point: the flagship query on sf0.001",
    "ChunkText.scala:chunk":
        "reference chunker (main.py) the chunk_text expression is "
        "compared against",
    "HashEmbed.scala:embedText":
        "reference embedding (main.py) as a driver-side function the "
        "hash_embed expression is compared against",
    "Dedup.scala:minhashSig":
        "signature table the oracle's MinHash CTE mirrors; pins the "
        "MinHashSig kernel bit-identical to the groupBy/min formulation",
    "Similarity.scala:upsertIvf":
        "in-memory reference the persisted IVF upsert and lifecycle "
        "specs compare against",
    "Similarity.scala:upsertPq":
        "in-memory reference the persisted IVF-PQ lifecycle spec "
        "compares against",
    "PdfCorpusSource.scala:corpusDir":
        "the reference's PDF directory ingest entry point",
    "PdfCorpusSource.scala:singleFile":
        "the reference's single-PDF upload entry point",
    "PdfCorpusSource.scala:ingestReport":
        "the reference's PDF ingest fold (main.py): continue past failed "
        "files, report chunk and failure counts",
}

# library supertypes whose abstract members subclasses implement without
# writing `override`
ABSTRACT_IMPLS = {
    "Aggregator": {"zero", "reduce", "merge", "finish", "bufferEncoder",
                   "outputEncoder"},
}
ALWAYS_SKIP = {"main", "apply", "unapply"}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip(src):
    """Blank out comments and string literals; keep interpolated code.

    Newlines survive, so line numbers of the result match the source."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            q = '"""' if triple else '"'
            j = i + len(q)
            buf = [" " * len(q)]
            while j < n:
                if src.startswith(q, j) and not (triple and
                                                 src.startswith('""""', j)):
                    break
                if not triple and src[j] == "\\":
                    buf.append("  ")
                    j += 2
                    continue
                if interp and src.startswith("$$", j):
                    buf.append("  ")
                    j += 2
                elif interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    # interpolated code may hold strings and comments itself
                    buf.append("  " + strip(src[j + 2:k - 1]) + " ")
                    j = k
                elif interp and src[j] == "$":
                    m = IDENT.match(src, j + 1)
                    if m:
                        buf.append(" " + m.group(0))
                        j = m.end()
                    else:
                        buf.append(" ")
                        j += 1
                else:
                    buf.append("\n" if src[j] == "\n" else " ")
                    j += 1
            out.append("".join(buf) + " " * len(q))
            i = j + len(q)
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4])
            out.append(" " * len(m.group(0)))
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return "".join(out)


DECL = re.compile(
    r"^[ \t]*((?:@\w+(?:\([^)]*\))?\s+)*)"
    r"((?:(?:private|protected)(?:\[\w+\])?|override|final|sealed|abstract|"
    r"implicit|lazy|case|inline)\s+)*"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)",
    re.M)


def members(path, text):
    """Yield (line, name, owner) for each public member declared in a
    template; owner is the top-level object's name, else None."""
    # stack of (is_template, header, owner) for every open brace
    stack = []
    last = 0
    for m in re.finditer(r"[{}]", text):
        pos = m.start()
        if text[pos] == "}":
            # declarations after the last nested block still belong to
            # the closing template
            if stack and stack[-1][0]:
                for line, name in public(text, list(DECL.finditer(
                        text, last, pos)), stack[-1][1]):
                    yield line, name, stack[-1][2]
            if stack:
                stack.pop()
            last = pos + 1
            continue
        # declarations between the previous brace and this one sit at the
        # current nesting level
        chunk_start = last
        in_template = bool(stack) and stack[-1][0]
        decls = list(DECL.finditer(text, chunk_start, pos))
        if in_template:
            for line, name in public(text, decls, stack[-1][1]):
                yield line, name, stack[-1][2]
        kind = decls[-1].group(3) if decls else None
        opener = text[decls[-1].start():pos] if decls else ""
        is_template = (kind in ("object", "class", "trait")
                       and "=" not in re.sub(r"\([^)]*\)", "", opener)
                       .replace("=>", ""))
        owner = decls[-1].group(4) if (is_template and kind == "object"
                                       and not stack) else None
        stack.append((is_template, opener if is_template else "", owner))
        last = pos + 1


def public(text, decls, header):
    supers = set(IDENT.findall(header.split("extends", 1)[1])) \
        if "extends" in header else set()
    implemented = set()
    for s in supers:
        implemented |= ABSTRACT_IMPLS.get(s, set())
    for d in decls:
        mods, kind, name = d.group(2) or "", d.group(3), d.group(4)
        if kind not in ("def", "val", "object"):
            continue
        if re.search(r"\boverride\b", mods) or re.search(
                r"\b(private|protected)\b(?!\[(?!this\])\w+\])", mods):
            continue
        if name in ALWAYS_SKIP or name in implemented:
            continue
        yield text.count("\n", 0, d.start(4)) + 1, name


def scala_files(*roots):
    for root in roots:
        for dp, _, fs in os.walk(os.path.join(REPO, root)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    yield os.path.join(dp, f)


def refers(text, idents, owner, name):
    """Does `text` (another file, identifier set `idents`) refer to
    `owner`'s member `name`?"""
    if name not in idents:
        return False
    if owner is None:
        return True
    if re.search(rf"\b{owner}\s*\.\s*{name}\b", text):
        return True
    for alias in re.findall(
            rf"\bval\s+(\w+)\s*=\s*(?:[\w.]*\.)?{owner}\s*$", text, re.M):
        if re.search(rf"\b{alias}\s*\.\s*{name}\b", text):
            return True
    return re.search(
        rf"\bimport\s+[\w.]*\b{owner}\.(?:_|{name}\b|\{{[^}}]*\b{name}\b)",
        text) is not None


def main():
    main_files = {p: strip(open(p).read()) for p in scala_files("src/main")}
    specs = {p: strip(open(p).read()) for p in scala_files("src/test")}
    spec_idents = {p: set(IDENT.findall(t)) for p, t in specs.items()}
    callers = dict(main_files)
    callers.update({p: strip(open(p).read())
                    for p in scala_files("perfbench/src")})
    idents = {p: set(IDENT.findall(t)) for p, t in callers.items()}
    counts = {}
    for p, t in main_files.items():
        for w in IDENT.findall(t):
            counts[(p, w)] = counts.get((p, w), 0) + 1

    uncalled = {}
    for path, text in main_files.items():
        found = list(members(path, text))
        decls = {}
        for _, name, _ in found:
            decls[name] = decls.get(name, 0) + 1
        for line, name, owner in found:
            called = (counts[(path, name)] > decls[name]
                      or any(refers(t, idents[q], owner, name)
                             for q, t in callers.items() if q != path))
            if not called:
                key = f"{os.path.basename(path)}:{name}"
                where = os.path.relpath(path, REPO) + f":{line}"
                spec_only = any(refers(t, spec_idents[q], owner, name)
                                for q, t in specs.items())
                uncalled[key] = ("SPEC-ONLY" if spec_only else "UNCALLED",
                                 where)

    missing = sorted(k for k in uncalled if k not in KEEP)
    stale = sorted(k for k in KEEP if k not in uncalled)
    print(f"KEEP ({len(KEEP)} members with no caller outside "
          f"the specs, each with its reason):")
    for k in sorted(KEEP):
        print(f"  {k:<48} {KEEP[k]}")
    if missing or stale:
        for k in missing:
            tag, where = uncalled[k]
            print(f"{tag} {where} {k.split(':')[1]}")
        for k in stale:
            print(f"STALE KEEP {k} (gone, or called now)")
        sys.exit(1)


if __name__ == "__main__":
    main()
