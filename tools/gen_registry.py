"""Generate REGISTRY.md — the one-page operator cookbook index — and
re-emit the registry-size counts in COVERAGE.md / README.md so no doc
carries a hand-maintained total (they drifted between rounds when they
did).

The query registry doubles as the engine's operator cookbook: every
query is a worked, oracle-paired example of one or more operators. This
tool derives an index (query name -> operators invoked -> gist) straight
from the source, so it can never drift from the code: operators are found
by walking each query function's AST for calls into the package's operator/
function modules, and the gist is the docstring's first sentence.

Usage: python tools/gen_registry.py   (rewrites REGISTRY.md and the counts)
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "peskas_malawi_data_pipeline_spark"

# module-alias -> short human module name, per source file
_SKIP_ALIASES = {"F", "W", "Window", "DataFrame", "SparkSession", "T_", "pd",
                 "np"}


def _alias_map(module_src: str) -> dict[str, str]:
    """alias -> dotted in-package module, from top-level + in-function
    imports (`from .operators import dedup as dedup_ops`)."""
    out: dict[str, str] = {}
    for node in ast.walk(ast.parse(module_src)):
        if isinstance(node, ast.ImportFrom) and node.module:
            mod = node.module.lstrip(".")
            for a in node.names:
                name = a.asname or a.name
                if name in _SKIP_ALIASES:
                    continue
                # keep only in-package targets (relative imports)
                if node.level:
                    out[name] = f"{mod}.{a.name}" if mod else a.name
    return out


def _called_ops(fn_src: str, aliases: dict[str, str]) -> list[str]:
    """Distinct `module.function` operator references inside a query fn."""
    ops: list[str] = []
    for node in ast.walk(ast.parse(textwrap.dedent(fn_src))):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            target = aliases[node.value.id]
            if (target.startswith(("operators.", "functions.", "core."))
                    or "." not in target):
                ref = f"{target.split('.')[-1]}.{node.attr}"
                if ref not in ops and not node.attr.startswith("_"):
                    ops.append(ref)
    return ops


def _gist(doc: str | None, limit: int = 200) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    # first sentence: split on '. ' but not inside e.g. "§4.3" / "0.5"
    m = re.search(r"(?<![0-9§])\.\s", text)
    first = text[:m.start() + 1] if m else text
    if len(first) > limit:
        first = first[:limit - 1].rsplit(" ", 1)[0] + "…"
    return first.replace("|", "\\|").replace("``", "`")


def _registry_ops() -> dict[str, list[str]]:
    """query name -> package operators its function calls, resolved
    through the module's and the function's own import aliases."""
    from peskas_malawi_data_pipeline_spark import queries

    module_aliases = _alias_map(inspect.getsource(queries))
    out: dict[str, list[str]] = {}
    for name, (fn, _sql) in queries.REGISTRY.items():
        fn_src = inspect.getsource(fn)
        local_aliases = dict(module_aliases)
        local_aliases.update(_alias_map(fn_src) if "import" in fn_src else {})
        out[name] = _called_ops(fn_src, local_aliases)
    return out


# Count-bearing phrases in the hand-written docs: file -> (pattern,
# replacement with ``{n}`` for the live registry size). ``main`` rewrites
# them from the registry, so no doc carries a hand-maintained total.
COUNT_PHRASES = {
    "COVERAGE.md": (r"\b\d+ registry queries", "{n} registry queries"),
    "README.md": (r"\(\d+ queries, all hash-checked",
                  "({n} queries, all hash-checked"),
}


def render() -> str:
    """The text of REGISTRY.md, derived from the live registry."""
    from peskas_malawi_data_pipeline_spark.queries import REGISTRY

    registry_ops = _registry_ops()
    rows = []
    for name, (fn, sql) in REGISTRY.items():
        ops = registry_ops[name]
        rows.append({
            "name": name,
            "ops": ", ".join(f"`{o}`" for o in ops) or "built-in DataFrame ops",
            "gist": _gist(fn.__doc__),
            "oracle": "exact SQL" if sql else "rows-only",
        })

    rows.sort(key=lambda r: r["name"])

    lines = [
        "# REGISTRY — the operator cookbook index",
        "",
        "Generated by `python tools/gen_registry.py` — do not edit by hand.",
        "",
        f"Every one of the {len(rows)} registry queries is a worked,",
        "oracle-paired example of one or more engine operators: find the",
        "capability below, open the named operator's docstring for the plan",
        "shape and scale notes, and use the query function",
        f"(`{PKG}.queries`) as the calling recipe. All",
        "queries run via `__spark_entry__.queries()[name](spark, sf_dir)`;",
        "'exact SQL' oracle means a DuckDB twin hash-matches bit-for-bit,",
        "'rows-only' marks semantics SQL cannot express (iterative",
        "fixpoints).",
        "",
        "| query | operators | oracle | what it computes |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append(f"| `{r['name']}` | {r['ops']} | {r['oracle']} "
                     f"| {r['gist']} |")
    lines.append("")
    return "\n".join(lines)


def main() -> None:
    from peskas_malawi_data_pipeline_spark.queries import REGISTRY

    out = os.path.join(REPO, "REGISTRY.md")
    with open(out, "w") as fh:
        fh.write(render())
    total = len(REGISTRY)
    print(f"wrote {out}: {total} rows")

    for fname, (pat, rep) in COUNT_PHRASES.items():
        path = os.path.join(REPO, fname)
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            doc = fh.read()
        new = re.sub(pat, rep.format(n=total), doc)
        if new != doc:
            with open(path, "w") as fh:
                fh.write(new)
            print(f"patched counts in {fname} -> {total}")


if __name__ == "__main__":
    main()
