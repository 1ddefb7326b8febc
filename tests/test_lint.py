"""Source lints for performance traps that keep re-appearing.

The no-CSE-in-lambdas trap (round 11, rediscovered TWICE in round 13):
Spark performs no common-subexpression elimination inside higher-order
function lambdas, so a lambda body that references a DERIVED ARRAY
expression (``F.split(text)``, ``regexp_extract_all`` …) re-evaluates
it PER ELEMENT — an O(n²)-per-row hidden cost (q_rouge_overlap measured
x25 12.9 → 1.56 s; the word_shingles builders measured q_dedup_minhash
4.93 → 2.83 s at sf0.1). The safe shape binds the array once via a
single-element outer transform (or a dedicated projection) and indexes
it with ``element_at``.

Round 13's verdict asked for this as a standing mechanical check: the
trap hides in helpers, and grepping by hand each round does not scale.
Two detectors, both run over every module in ``parquet_compactor_spark``:

1. Python-API form — an ``ast.Lambda`` whose body calls
   ``F.split`` / ``F.regexp_extract_all`` / ``F.sentences`` (or the
   tokenizer helpers ``whitespace_tokens`` / ``word_shingles``).
2. SQL-string form — a string literal containing a SQL lambda arrow
   (``x ->``) with a ``split(`` / ``regexp_extract_all(`` /
   ``sentences(`` call AFTER the arrow (the exact pre-fix
   q_rouge_overlap shape).

Both detectors are themselves pinned against the historical pre-fix
sources so a refactor of the lint cannot silently blind it.

A third check keeps the compactor driver-only: no module under
``parquet_compactor_spark/compactor/`` ships Python to executors
(``mapInPandas`` and kin, ``udf``/``pandas_udf``, ``rdd.map*``, or a
``pandas``/``pyarrow`` import). The compactor reads footers through the
Hadoop FileSystem on every store; an executor-side pyarrow reader opens
only ``file://`` paths and reported nothing on an object store. It is
pinned against the executor-side footer map the reports once used.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "parquet_compactor_spark"

#: F.<name> calls that build a derived array from a column — evaluating
#: any of these inside a higher-order lambda is per-element recompute.
_DERIVED_F_FNS = {"split", "regexp_extract_all", "sentences"}

#: Package-local helpers with the same cost profile (each is itself a
#: split/transform pipeline over the text column).
_DERIVED_HELPERS = {"whitespace_tokens", "word_shingles", "char_shingles"}

_SQL_ARROW = re.compile(r"\w+\s*->")
_SQL_DERIVED = re.compile(r"\b(split|regexp_extract_all|sentences)\s*\(")


def _py_lambda_violations(tree: ast.AST, path: str) -> list[str]:
    """Flag F.split-style calls inside any ``lambda`` body."""
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Lambda):
            continue
        for sub in ast.walk(node.body):
            if not isinstance(sub, ast.Call):
                continue
            fn = sub.func
            if (
                isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and fn.value.id == "F"
                and fn.attr in _DERIVED_F_FNS
            ) or (
                isinstance(fn, ast.Name) and fn.id in _DERIVED_HELPERS
            ):
                name = fn.attr if isinstance(fn, ast.Attribute) else fn.id
                out.append(
                    f"{path}:{sub.lineno}: `{name}(…)` inside a lambda "
                    "body re-evaluates per element (no CSE in "
                    "higher-order lambdas) — bind the array via a "
                    "single-element outer transform + element_at"
                )
    return out


def _sql_string_violations(tree: ast.AST, path: str) -> list[str]:
    """Flag SQL lambda arrows whose body calls split(…) et al."""
    out = []
    for node in ast.walk(tree):
        texts: list[tuple[int, str]] = []
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            texts.append((node.lineno, node.value))
        elif isinstance(node, ast.JoinedStr):  # f-string literal parts
            for part in node.values:
                if isinstance(part, ast.Constant) and isinstance(
                    part.value, str
                ):
                    texts.append((node.lineno, part.value))
        for lineno, s in texts:
            m = _SQL_ARROW.search(s)
            if m and _SQL_DERIVED.search(s[m.end() :]):
                out.append(
                    f"{path}:{lineno}: SQL lambda body calls a derived-"
                    "array function after `->` — it re-evaluates per "
                    "element; bind it outside the lambda"
                )
    return out


def _scan_package() -> list[str]:
    violations = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        rel = str(py.relative_to(PKG.parent))
        violations += _py_lambda_violations(tree, rel)
        violations += _sql_string_violations(tree, rel)
    return violations


def test_no_derived_arrays_inside_lambdas():
    violations = _scan_package()
    assert not violations, "\n".join(violations)


# -- detector self-tests against the historical pre-fix sources ----------

_PRE_FIX_ROUGE = '''
grams = d.select(
    "doc_id",
    F.explode(
        F.expr(
            "CASE WHEN size(split(text, ' ')) >= 2 THEN "
            "transform(sequence(1, size(split(text, ' ')) - 1), "
            "i -> concat(element_at(split(text, ' '), i), ' ', "
            "element_at(split(text, ' '), i + 1))) "
            "ELSE array() END"
        )
    ).alias("g"),
)
'''

_PRE_FIX_SHINGLES = """
shingles = F.when(
    F.size(F.split(text, " ", -1)) >= k,
    F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(F.split(text, " ", -1)) - k),
            lambda i: F.concat_ws(
                " ", F.slice(F.split(text, " ", -1), i + F.lit(1), F.lit(k))
            ),
        )
    ),
).otherwise(F.array(text))
"""

_FIXED_SHINGLES = """
bound = F.transform(
    F.array(F.split(text, " ", -1)),
    lambda w: F.when(
        F.size(w) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - k),
                lambda i: F.concat_ws(
                    " ", F.slice(w, i + F.lit(1), F.lit(k))
                ),
            )
        ),
    ).otherwise(F.array(text)),
)
out = F.element_at(bound, 1)
"""


def test_lint_catches_pre_fix_rouge_sql_form():
    tree = ast.parse(_PRE_FIX_ROUGE)
    assert _sql_string_violations(tree, "pre_fix_rouge.py")


def test_lint_catches_pre_fix_word_shingles_python_form():
    tree = ast.parse(_PRE_FIX_SHINGLES)
    assert _py_lambda_violations(tree, "pre_fix_shingles.py")


def test_lint_passes_the_bound_form():
    tree = ast.parse(_FIXED_SHINGLES)
    assert not _py_lambda_violations(tree, "fixed_shingles.py")
    assert not _sql_string_violations(tree, "fixed_shingles.py")


# -- the compactor sends no Python to executors ---------------------------

COMPACTOR = PKG / "compactor"

#: DataFrame methods that run a Python function on executors.
_EXECUTOR_METHODS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow",
    "foreach", "foreachPartition",
}
#: RDD methods that take a Python function, beyond the ``map*`` family
#: and the ``foreach*`` methods above.
_RDD_FN_METHODS = {"flatMap", "filter", "reduce"}
_UDF_NAMES = {"udf", "pandas_udf", "udtf"}
_EXECUTOR_LIBS = {"pandas", "pyarrow"}


def _executor_python_violations(tree: ast.AST, path: str) -> list[str]:
    """Flag every construct that ships Python code to executors."""
    out = []
    for node in ast.walk(tree):
        found = None
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names]
            modules = names if isinstance(node, ast.Import) else [node.module or ""]
            libs = sorted({m.split(".")[0] for m in modules} & _EXECUTOR_LIBS)
            if libs:
                found = f"import of {', '.join(libs)}"
            elif isinstance(node, ast.ImportFrom) and _UDF_NAMES & set(names):
                found = f"import of {', '.join(sorted(_UDF_NAMES & set(names)))}"
        elif isinstance(node, ast.Attribute):
            if node.attr in _EXECUTOR_METHODS or node.attr in _UDF_NAMES:
                found = f"`.{node.attr}`"
            elif (
                isinstance(node.value, ast.Attribute)
                and node.value.attr == "rdd"
                and (node.attr.startswith("map") or node.attr in _RDD_FN_METHODS)
            ):
                found = f"`.rdd.{node.attr}`"
        elif isinstance(node, ast.Name) and node.id in _UDF_NAMES:
            found = f"`{node.id}`"
        if found:
            out.append(f"{path}:{node.lineno}: {found} runs Python on executors")
    return out


def test_compactor_sends_no_python_to_executors():
    violations = []
    for py in sorted(COMPACTOR.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        violations += _executor_python_violations(tree, str(py.relative_to(PKG.parent)))
    assert not violations, "\n".join(violations)


#: The executor-side footer map the row-group and schema reports used
#: before they read footers through the Hadoop FileSystem (abridged).
_EXECUTOR_FOOTER_MAP = """
def _distributed_footer_map(spark, paths, schema, dtypes, per_file, error_row):
    import pandas as pd

    pdf = spark.createDataFrame([(p,) for p in sorted(paths)], "path string")

    def map_batches(it):
        for batch in it:
            rows = [r for p in batch["path"] for r in per_file(p, p)]
            yield pd.DataFrame(rows)

    return pdf.repartition(4).mapInPandas(map_batches, schema=schema)


def scan_parquet_footers(spark, paths):
    def per_file(local, p):
        import pyarrow.parquet as pq

        with pq.ParquetFile(local) as pf:
            return [(p, pf.metadata.num_rows)]

    return _distributed_footer_map(spark, paths, "", [], per_file, None)
"""


def test_lint_catches_the_executor_footer_map():
    found = _executor_python_violations(ast.parse(_EXECUTOR_FOOTER_MAP), "report.py")
    assert any("pandas" in v for v in found)
    assert any("pyarrow" in v for v in found)
    assert any("mapInPandas" in v for v in found)


def test_lint_catches_udfs_and_rdd_maps():
    source = """
from pyspark.sql.functions import pandas_udf
f = F.udf(lambda x: x)
n = df.rdd.mapPartitions(lambda it: it).count()
"""
    found = _executor_python_violations(ast.parse(source), "x.py")
    assert len(found) == 3, found
    assert not _executor_python_violations(ast.parse("df.groupBy('a').count()"), "x.py")
