#!/usr/bin/env python3
"""Tripwire for surface that nothing reaches.

    python3 tools/reach.py

Lists every public member or type declared in src/main (a def, val, var,
type, class, trait or object that is neither `private` nor `protected`
without a qualifier, nor an `override` or `implicit`) whose name occurs in
src/main only at its own declaration and nowhere in perfbench/harness.
Comments are stripped first; string literals are kept, because generated
Java code names kernels inside strings. Names on ALLOWED are skipped.

Exit 0 when nothing is listed, 1 otherwise. The check matches names, not
symbols: an unrelated use of the same name hides a dead member, so a pass
is a tripwire and not a proof.
"""
import collections
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main"
HARNESS = ROOT / "perfbench" / "harness"

# name -> why it is kept although nothing in src/main or the harness calls it
ALLOWED = {
    "wordShinglesHof": "reference form that DedupSpec checks the native kernel against",
    "normalizeUrlCols": "reference form that UrlSpec checks the native URL kernel against",
    "resolveUrlCols": "reference form that UrlSpec checks the native URL kernel against",
    "viterbi": "reference segmenter that UnigramSpec checks the batched one against",
    "gzipMembers": "reference member splitter that WarcSpec checks the reader against",
    "semanticDeltaDupsScaled": "reference that SemanticIndexSpec checks deltaDups against",
    "readDfs": "VideoIndexStream accessor that VideoIndexStreamSpec checks after a fold",
    "readSizes": "VideoIndexStream accessor that VideoIndexStreamSpec checks after a fold",
    "disable": "Summaries.disable: the switch specs use to run without summary rewrites",
    "Bench": "main",
    "Verify": "main",
    "ScaleData": "main",
}

DECL = re.compile(
    r"^[ \t]*((?:(?:@\w+[ \t]+)?(?:override|final|implicit|lazy|sealed|abstract|case|inline"
    r"|private|protected)(?:\[\w+\])?[ \t]+)*)"
    r"(def|val|var|type|class|trait|object)[ \t]+([A-Za-z_][A-Za-z0-9_]*)",
    re.M,
)
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
TEMPLATE = {"class", "trait", "object"}
# called through syntax, not by name
SYNTAX = {"apply", "unapply", "unapplySeq"}


def strip_comments(src):
    """`src` with // and (nested) /* */ comments blanked, newlines kept."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i : j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i : i + 4]):
            j = src.index("'", i + 2) + 1
            out.append(src[i:j])
            i = j
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith("/*", i):
            depth = 0
            while i < n:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                    if depth == 0:
                        break
                else:
                    out.append("\n" if src[i] == "\n" else "")
                    i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def members(text):
    """(name, line) of each public declaration directly inside a template
    body (or at the top level) of one stripped source file."""
    decls = list(DECL.finditer(text))
    # one entry per open brace: is its body a class/trait/object template,
    # i.e. is the nearest line-start declaration before it a template one?
    found, stack, d = [], [], 0
    # the appended brace flushes the declarations after the last real one
    for b in re.finditer(r"[{}]", text + "{"):
        # declarations before this brace sit in the innermost open scope
        while d < len(decls) and decls[d].start() < b.start():
            m = decls[d]
            d += 1
            mods = m.group(1)
            hidden = re.search(r"\b(private|protected)\b(?!\[)", mods)
            if hidden or re.search(r"\b(override|implicit)\b", mods) or m.group(3) in SYNTAX:
                continue
            if not stack or stack[-1]:
                found.append((m.group(3), text.count("\n", 0, m.start(3)) + 1))
        if b.group() == "{":
            stack.append(d > 0 and decls[d - 1].group(2) in TEMPLATE)
        elif stack:
            stack.pop()
    return found


def main():
    main_files = sorted(MAIN.rglob("*.scala"))
    texts = {p: strip_comments(p.read_text()) for p in main_files}
    uses = collections.Counter(IDENT.findall("\n".join(texts.values())))
    harness = set(
        IDENT.findall("\n".join(strip_comments(p.read_text()) for p in HARNESS.rglob("*.scala")))
    )
    dead = []
    for path, text in texts.items():
        for name, line in members(text):
            if name in ALLOWED:
                continue
            if uses[name] <= 1 and name not in harness:
                dead.append(f"{path.relative_to(ROOT)}:{line}: {name}")
    for d in dead:
        print(d)
    print(f"reach: {len(dead)} unreached public name(s)", file=sys.stderr)
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
