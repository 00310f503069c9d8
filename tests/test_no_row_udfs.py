"""North-rule lint: no per-row Python UDFs, no RDD API, anywhere in the
engine (SURVEY.md §7 audit). Only pandas_udf / mapInPandas / mapInArrow
(and applyInPandasWithState in streaming/) are allowed Python entry points;
the conflation chain's kernels share one mapInArrow boundary
(functions.udfs), so a grouped applyInPandas or the old pandas-frame
helper `arrow_frame` is rejected outside streaming/."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gtfs_conflation_pipeline_spark"

FORBIDDEN = [
    (re.compile(r"\bF\.udf\s*\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf decorator"),
    (re.compile(r"\bUserDefinedFunction\b"), "raw UDF class"),
    (re.compile(r"\.rdd\b"), "RDD API"),
    (re.compile(r"\bsparkContext\.parallelize\b"), "RDD parallelize"),
    (re.compile(r"\bforeachPartition\b"), "imperative foreachPartition"),
]
# stateful streaming needs applyInPandasWithState; nothing else may group
# into pandas
FORBIDDEN_OUTSIDE_STREAMING = [
    (re.compile(r"\.applyInPandas\("), "grouped applyInPandas"),
    (re.compile(r"\barrow_frame\b"), "pandas-frame kernel output (use udfs.emit)"),
]


def test_no_row_udfs_or_rdd():
    offenders = []
    for py in PKG.rglob("*.py"):
        text = py.read_text()
        rules = FORBIDDEN
        if "streaming" not in py.relative_to(PKG).parts:
            rules = FORBIDDEN + FORBIDDEN_OUTSIDE_STREAMING
        for pat, label in rules:
            for m in pat.finditer(text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{py.relative_to(PKG.parent)}:{line} {label}")
    assert not offenders, "forbidden row-level APIs found:\n" + "\n".join(offenders)


def test_vectorized_apis_present():
    """Sanity: the allowed vectorized surfaces are actually what's used."""
    text = "".join(p.read_text() for p in PKG.rglob("*.py"))
    assert "pandas_udf" in text
    assert "applyInPandas" in text
    assert "mapInPandas" in text
