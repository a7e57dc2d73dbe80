"""Count the package's code lines: lines that hold a token outside
comments and docstrings. Prints per-file counts and the total, skipping
the ``plans/`` registry.

    python scripts/code_lines.py [package_dir]    # or: make loc
"""

import ast
import sys
import tokenize
from pathlib import Path

NOT_CODE = {tokenize.ENCODING, tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
            tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(path: Path) -> int:
    docstrings = set()
    for node in ast.walk(ast.parse(path.read_bytes())):
        body = getattr(node, "body", None)
        first = body[0] if isinstance(body, list) and body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            docstrings.update(range(first.lineno, first.end_lineno + 1))
    with path.open("rb") as f:
        tokens = [t for t in tokenize.tokenize(f.readline) if t.type not in NOT_CODE]
    return len({n for t in tokens for n in range(t.start[0], t.end[0] + 1)} - docstrings)


root = Path(sys.argv[1] if len(sys.argv) > 1 else "data_engineering_rag_spark")
counts = {p: code_lines(p) for p in sorted(root.rglob("*.py"))
          if "plans" not in p.relative_to(root).parts}
for path, n in counts.items():
    print(f"{n:6d}  {path}")
print(f"{sum(counts.values()):6d}  total")
