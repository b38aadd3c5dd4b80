"""Source-level lints for the round-6 ADVICE bug class: NULL-handling
asymmetry between Spark expressions and the DuckDB oracle.

``concat_ws`` SKIPS null arguments (shortening the string) while SQL
``||`` / ``F.concat`` propagate NULL — so a checksum/fingerprint built
on ``concat_ws`` silently collides 'a|NULL|b' with 'a|b' and diverges
from any NULL-propagating oracle. The rule (stated at
operators/warehouse.py table_checksum): hash inputs must either
propagate NULL or canonicalize it to an unambiguous sentinel. Every
``concat_ws`` feeding a hash function must therefore be allowlisted
with a reason proving its arguments are non-null or sentinel-coalesced.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_warehouse_co_healthy_spark"
)

HASH_FNS = {"md5", "sha2", "sha1", "hash", "xxhash64", "crc32"}

#: (relative path, enclosing function) -> why the concat_ws is safe.
CONCAT_WS_IN_HASH_OK = {
    ("operators/warehouse.py", "table_checksum"):
        "every argument is coalesce(cast(c AS string), NUL-sentinel) — "
        "NULL renders unambiguously on both engines by construction",
    ("llm/dedup.py", "_band_keys_from_wide"):
        "minhash signature columns m0..mN are min() over the per-doc "
        "shingle set; docs with zero shingles are excluded upstream, "
        "so every argument is non-null by construction (oracle uses "
        "the identical concat_ws text)",
    ("llm/training.py", "epoch_shuffle"):
        "arguments are the epoch counter (generated sequence) and "
        "doc_id (primary key) — both non-null by construction; the "
        "oracle uses the identical concat_ws text",
}

#: raw-text pattern: a hash function directly wrapping concat_ws —
#: catches SQL/selectExpr strings the AST walk can't see.
_TEXT_RE = re.compile(
    r"(?:md5|sha2|sha1|xxhash64|crc32|hash)\s*\(\s*concat_ws", re.I
)


def _enclosing_function(tree: ast.Module, lineno: int) -> str:
    """Name of the innermost def containing lineno ('<module>' if none)."""
    best, best_span = "<module>", None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = getattr(node, "end_lineno", node.lineno)
            if node.lineno <= lineno <= end:
                span = end - node.lineno
                if best_span is None or span < best_span:
                    best, best_span = node.name, span
    return best


def _call_name(node: ast.expr) -> str:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return ""


def _find_hash_wrapped_concat_ws(path: Path) -> list[tuple[str, int]]:
    src = path.read_text()
    tree = ast.parse(src)
    hits: list[tuple[str, int]] = []
    # AST: F.md5(... F.concat_ws(...) ...) nesting
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and _call_name(node.func) in HASH_FNS):
            continue
        for sub in ast.walk(node):
            if (isinstance(sub, ast.Call)
                    and _call_name(sub.func) == "concat_ws"):
                hits.append((_enclosing_function(tree, node.lineno),
                             node.lineno))
                break
    # raw text: 'md5(concat_ws(...))' inside SQL strings
    for i, line in enumerate(src.splitlines(), start=1):
        if _TEXT_RE.search(line):
            hits.append((_enclosing_function(tree, i), i))
    return hits


def test_concat_ws_never_feeds_a_hash_unallowlisted():
    findings = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for func, lineno in _find_hash_wrapped_concat_ws(path):
            if (rel, func) not in CONCAT_WS_IN_HASH_OK:
                findings.append(f"{rel}:{lineno} in {func}()")
    assert not findings, (
        "concat_ws feeding a hash without a null-safety allowlist "
        f"entry (it SKIPS nulls — see module docstring): {findings}"
    )


def test_concat_ws_allowlist_has_no_stale_entries():
    live = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for func, _ in _find_hash_wrapped_concat_ws(path):
            live.add((rel, func))
    stale = set(CONCAT_WS_IN_HASH_OK) - live
    assert not stale, f"allowlist entries no longer in source: {stale}"


_HADOOP_SET_RE = re.compile(r"hadoopConfiguration\(\)\s*\.set\w*\(")


def _package_hits(pattern: re.Pattern) -> list[str]:
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        for m in pattern.finditer(src):
            line = src.count("\n", 0, m.start()) + 1
            hits.append(f"{path.relative_to(PKG)}:{line}")
    return hits


def test_no_sparkcontext_hadoop_conf_mutation():
    """A ``hadoopConfiguration().set…(`` changes the conf of every
    session on the SparkContext, for the life of the process. Scope such
    a setting to a session conf instead (streaming/drains.py does this
    for the checkpoint file system)."""
    hits = _package_hits(_HADOOP_SET_RE)
    assert not hits, f"SparkContext-wide Hadoop conf mutation: {hits}"


def test_streaming_queries_start_only_in_drains():
    """Every streaming query in the package starts through
    ``streaming.drains.drain`` — the one place that scopes the query's
    confs, owns its checkpoint, and stops it on error."""
    hits = [
        h for h in _package_hits(re.compile(r"\.writeStream\b"))
        if not h.startswith("streaming/drains.py:")
    ]
    assert not hits, f"writeStream outside streaming/drains.py: {hits}"
