"""Generated operator catalog.

At 323 distinct operators, discoverability is the engine's remaining
usability gap: ``build_catalog()`` renders one markdown document —
operator name → one-line semantics → module:line → evidence class →
scale note — derived ENTIRELY from the live registry and the query
functions' docstrings, so it cannot drift from the code (the same
single-source-of-truth discipline as the README count tripwire;
tests/test_oracle_parity.py asserts the committed CATALOG.md equals a
fresh render).

Regenerate with ``python scripts/gen_catalog.py``.
"""

from __future__ import annotations

import inspect
import re

from i3cols_spark.operators import CONTRACT_QUERIES, ORACLES, QUERIES


def _first_sentence(doc: str) -> str:
    """First sentence of a docstring, whitespace-flattened."""
    flat = re.sub(r"\s+", " ", doc.strip())
    # Sentence end = ". " not inside an abbreviation we use (e.g.,
    # "vs.", "cf.", "et al.") — the operator docstrings start with a
    # plain declarative sentence, so a simple split suffices; fall back
    # to the whole flattened docstring.
    m = re.search(
        r"(?<!\bvs)(?<!\bcf)(?<!\bal)(?<!\be\.g)(?<!\bi\.e)\.(?:\s|$)", flat
    )
    return flat[: m.start() + 1] if m else flat


def _scale_note(doc: str) -> str:
    """The first sentence of the docstring's 'Scale shape:' paragraph,
    when one exists (71 of the operators carry one)."""
    m = re.search(r"Scale shape:\s*(.+?)(?:\n\n|\Z)", doc, re.S)
    if not m:
        return ""
    return _first_sentence(m.group(1))


def _block_of(name: str) -> str:
    return "contract" if name in CONTRACT_QUERIES else "extra"


def _escape_cell(s: str) -> str:
    return s.replace("|", "\\|")


#: Un-registered PRODUCTION STREAMS living behind audit-form
#: registered queries (the round-9/10 oracle flips): the registered
#: name emits the oracle-checkable audit, these emit the per-row
#: stream a pipeline actually consumes.  Catalogued so a user
#: switching from audit to production finds them; the scale probes
#: track these, not the audits.
_PRODUCTION_STREAMS: tuple[tuple[str, str], ...] = (
    ("i3cols_spark.operators.dedup", "simhash_sketches"),
    ("i3cols_spark.operators.dedup", "minhash_pairs"),
    ("i3cols_spark.operators.dedup", "minhash_cluster_members"),
    ("i3cols_spark.operators.similarity", "ivf_topk"),
    ("i3cols_spark.operators.similarity", "ivfpq_topk"),
)


def build_catalog() -> str:
    """Render CATALOG.md from the registry — deterministic, no
    timestamps, grouped by implementing module."""
    by_module: dict[str, list[tuple[str, int, str]]] = {}
    for name, fn in QUERIES.items():
        mod = fn.__module__.removeprefix("i3cols_spark.")
        _, line = inspect.getsourcelines(fn)
        by_module.setdefault(mod, []).append((name, line, inspect.getdoc(fn) or ""))

    n = len(QUERIES)
    n_oracle = sum(1 for q in QUERIES if q in ORACLES)
    out: list[str] = [
        "# Operator catalog",
        "",
        "<!-- GENERATED by scripts/gen_catalog.py from the live registry —",
        "     do not edit by hand; tests/test_oracle_parity.py asserts this",
        "     file matches a fresh render. -->",
        "",
        f"{n} registered entries, {n_oracle} DuckDB-oracle-backed, grouped "
        "by implementing module.  *Block* is contract (the binding 60-name "
        "SURVEY §2.3 inventory) or extra (every other registered name).  "
        "*Scale note* is the docstring's own 100 TB plan-shape claim, where "
        "the operator states one.",
        "",
    ]
    for mod in sorted(by_module):
        rows = sorted(by_module[mod], key=lambda r: r[1])
        out.append(f"## `{mod}`")
        out.append("")
        out.append("| operator | line | block | semantics | scale note |")
        out.append("|---|---|---|---|---|")
        for name, line, doc in rows:
            out.append(
                "| `{}` | {} | {} | {} | {} |".format(
                    name,
                    line,
                    _block_of(name),
                    _escape_cell(_first_sentence(doc)),
                    _escape_cell(_scale_note(doc)),
                )
            )
        out.append("")

    import importlib

    out.append("## Production streams (un-registered helpers)")
    out.append("")
    out.append(
        "Per-row streams behind audit-form registered queries — the "
        "registered name emits the oracle-checkable audit; these emit "
        "what a pipeline consumes (the scale probes track these)."
    )
    out.append("")
    out.append("| helper | module | line | semantics |")
    out.append("|---|---|---|---|")
    for mod_name, fn_name in _PRODUCTION_STREAMS:
        fn = getattr(importlib.import_module(mod_name), fn_name)
        _, line = inspect.getsourcelines(fn)
        out.append(
            "| `{}` | `{}` | {} | {} |".format(
                fn_name,
                mod_name.removeprefix("i3cols_spark."),
                line,
                _escape_cell(_first_sentence(inspect.getdoc(fn) or "")),
            )
        )
    out.append("")
    return "\n".join(out) + "\n"
