"""Near-duplicate functions in the package: copies that differ only
slightly, which a scan for identical bodies misses.

Every function (methods and nested functions included) of 12 or more
source lines under ``vbpl_web_crawl_spark/`` is reduced to its token
stream with comments dropped and every string and number literal
replaced by a placeholder, so a docstring or a constant does not tell
two copies apart. Each pair is scored with ``difflib``'s
``SequenceMatcher.ratio()``; a pair where one function is nested in the
other is skipped. Pairs at or above ``--min`` are printed, most similar
first, as ``ratio  file:line name  file:line name``.

    python tools/near_duplicates.py [--min 0.8] [--lines 12]

AST and tokenizer only: nothing is imported or run. The whole package
takes a few seconds on one core (cheap length and multiset bounds skip
most pairs before the full match).
"""

from __future__ import annotations

import argparse
import ast
import difflib
import io
import os
import sys
import textwrap
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "vbpl_web_crawl_spark")

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def _tokens(src: str) -> list[str]:
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING or tok.type == getattr(tokenize, "FSTRING_START", -1):
            out.append("<str>")
        elif tok.type in (getattr(tokenize, "FSTRING_MIDDLE", -1), getattr(tokenize, "FSTRING_END", -1)):
            continue
        elif tok.type == tokenize.NUMBER:
            out.append("<num>")
        else:
            out.append(tok.string)
    return out


def functions(min_lines: int) -> list[tuple[str, int, int, str, list[str]]]:
    """(relpath, first line, last line, name, tokens) per function."""
    found = []
    for dirpath, dirnames, filenames in os.walk(PACKAGE):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__pycache__")))
        for fname in sorted(f for f in filenames if f.endswith(".py")):
            path = os.path.join(dirpath, fname)
            with open(path, encoding="utf-8") as f:
                text = f.read()
            lines = text.splitlines(keepends=True)
            rel = os.path.relpath(path, ROOT)
            for node in ast.walk(ast.parse(text, path)):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                if node.end_lineno - node.lineno + 1 < min_lines:
                    continue
                # the def line onwards; decorators (registrations) are not body
                body = textwrap.dedent("".join(lines[node.lineno - 1:node.end_lineno]))
                found.append((rel, first, node.end_lineno, node.name, _tokens(body)))
    return found


def pairs(funcs, threshold: float):
    out = []
    for i, (pa, sa, ea, na, ta) in enumerate(funcs):
        sm = difflib.SequenceMatcher(None, autojunk=False)
        sm.set_seq2(ta)
        for pb, sb, eb, nb, tb in funcs[i + 1:]:
            if pa == pb and (sa <= sb <= eb <= ea or sb <= sa <= ea <= eb):
                continue  # one is nested in the other
            if 2.0 * min(len(ta), len(tb)) / (len(ta) + len(tb)) < threshold:
                continue
            sm.set_seq1(tb)
            if sm.quick_ratio() < threshold:
                continue
            r = sm.ratio()
            if r >= threshold:
                out.append((r, f"{pa}:{sa}", na, f"{pb}:{sb}", nb))
    return sorted(out, key=lambda p: (-p[0], p[1], p[3]))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--min", type=float, default=0.8, help="lowest ratio printed")
    ap.add_argument("--lines", type=int, default=12, help="shortest function scanned")
    args = ap.parse_args()
    funcs = functions(args.lines)
    found = pairs(funcs, args.min)
    for r, wa, na, wb, nb in found:
        print(f"{r:.2f}  {wa} {na}  {wb} {nb}")
    print(f"{len(found)} pairs >= {args.min} among {len(funcs)} functions "
          f"of >= {args.lines} lines", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
