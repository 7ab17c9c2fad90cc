"""The SemDeDup rules have one implementation under every index.

The pair prune (lower id wins at cosine >= tau inside a shard) and
the batch admission run from ``queries/llm.py``'s ``_sem_pruned`` and
``_sem_marked`` whatever index supplies the shard keys. These tests
pin the merged entries to verbatim copies of the per-index entries
they replaced (tests/kmeans_ref.py), guard the rule against being
written out again, and check that the scale probe names only entries
that exist.
"""

from __future__ import annotations

import ast
from pathlib import Path

import datafusion_rdbms_ext_spark as pkg
from datafusion_rdbms_ext_spark.queries import llm

from . import kmeans_ref as ref
from .conftest import SF_DIR

REPO = Path(pkg.__file__).parent.parent


def _tables(spark):
    from datafusion_rdbms_ext_spark.queries.base import ensure_tables

    ensure_tables(spark, SF_DIR)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_merged_entries_match_the_per_index_copies(spark):
    """Two configurations no registered row returns: the depth-2 tree
    at nprobe=2 (the old ``semdedup_prune_tree_mp``) and both
    cross-product levels probed at 2 (the old
    ``semdedup_prune_sharded_mp(nprobe1=2)``, the scale probe's
    ``mpb``)."""
    _tables(spark)
    k1, k2, nprobe = llm._IVF_K, llm._SEM_K2, llm._SEM_NPROBE
    tree = llm.semdedup_prune_tree_deep(spark, (k1, k2), nprobe=nprobe)
    assert _rows(tree) == _rows(ref.semdedup_prune_tree_mp(spark, k1, k2))
    mpb = llm.semdedup_prune_sharded(
        spark, k1, k2, nprobe=nprobe, nprobe1=nprobe
    )
    old = ref.semdedup_prune_sharded_mp(spark, k1, k2, nprobe1=nprobe)
    assert mpb.schema == old.schema
    assert _rows(mpb) == _rows(old)


# ---------------------------------------------------------------------------
# The one pair rule.
# ---------------------------------------------------------------------------


def _is_col(node, name: str | None = None) -> bool:
    """``F.col("...")`` (of ``name`` when given)."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "col"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and (name is None or node.args[0].value == name)
    )


def _rule_sites(source: str, filename: str = "<src>") -> list[str]:
    """Enclosing function of every lower-id pair filter
    (``F.col(x) < F.col("vec_id")``) and every tau test
    (``... >= _SEMDEDUP_TAU`` or ``... >= tau``), as ``kind:file:fn``."""
    out = []

    def visit(node, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Compare) and len(child.ops) == 1:
                op, right = child.ops[0], child.comparators[0]
                if (
                    isinstance(op, ast.Lt)
                    and _is_col(child.left)
                    and _is_col(right, "vec_id")
                ):
                    out.append(f"lower_id:{filename}:{fn}")
                if (
                    isinstance(op, ast.GtE)
                    and isinstance(right, ast.Name)
                    and right.id in ("_SEMDEDUP_TAU", "tau")
                ):
                    out.append(f"tau:{filename}:{fn}")
            visit(child, fn)

    visit(ast.parse(source, filename), "<module>")
    return out


def test_guard_detects_a_pair_rule_copy():
    src = (
        "def f(df, cos):\n"
        "    return df.filter(F.col('q_id') < F.col('vec_id'))"
        ".filter(cos >= _SEMDEDUP_TAU)\n"
        "def g(df, cos, tau):\n"
        "    return df.filter(cos >= tau)\n"
        "def h(df):\n"
        "    return df.filter(F.col('da') < F.col('db'))"
        ".filter(F.col('cos') >= _SRP_TAU)\n"
    )
    assert _rule_sites(src) == [
        "lower_id:<src>:f",
        "tau:<src>:f",
        "tau:<src>:g",
    ]


def test_pair_rule_has_one_implementation():
    root = Path(pkg.__file__).parent
    llm_py = root / "queries" / "llm.py"
    assert sorted(_rule_sites(llm_py.read_text(), "llm.py")) == [
        "lower_id:llm.py:_sem_pruned",
        "tau:llm.py:_sem_pruned",
    ]
    streaming = sorted((root / "streaming").rglob("*.py"))
    assert streaming
    for path in streaming:
        assert _rule_sites(path.read_text(), path.name) == []


def test_scale_probe_names_existing_entries():
    """Every ``llm.<name>`` the scale probe calls exists."""
    tree = ast.parse((REPO / "scripts" / "scale_probe.py").read_text())
    names = {
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "llm"
    }
    assert "semdedup_prune_tree_deep" in names
    assert sorted(n for n in names if not hasattr(llm, n)) == []
