"""North-rule audit (BASELINE.md): no per-row Python anywhere in the
build/query paths — every Python crossing must be a vectorized pandas/Arrow
UDF (pandas_udf / applyInPandas / mapInPandas / mapInArrow). Bans row-at-a-time
``F.udf`` and RDD lambda transforms in the engine package — and pins that
the block-format version is written from its one constant."""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "clip_as_service_spark"

BANNED = [
    (r"\bF\.udf\(", "row-at-a-time F.udf"),
    (r"@udf\(", "row-at-a-time @udf"),
    (r"\.rdd\.map\(", "rdd.map"),
    (r"\.rdd\.flatMap\(", "rdd.flatMap"),
    (r"\.rdd\.mapPartitions\(", "rdd.mapPartitions"),
    (r"\.foreach\(", "driver-side foreach"),
    (r"\.toLocalIterator\(", "driver-side row iteration"),
    # the block format is one constant (functions/codec.py BLOCK_FORMAT),
    # written by one meta writer and checked by both readers
    (r'"version":\s*2\b', "block-format literal; use BLOCK_FORMAT"),
]

# driver-side .collect() is allowed only where results are provably small
# (top-k, stats, shard lists, per-partition counts) — those sites are audited
# by hand; this test pins that no NEW banned primitive sneaks in.


def test_no_per_row_python_in_engine():
    offenders = []
    for path in PKG.rglob("*.py"):
        text = path.read_text(encoding="utf-8")
        for pattern, label in BANNED:
            for m in re.finditer(pattern, text):
                line = text[: m.start()].count("\n") + 1
                offenders.append(f"{path.name}:{line} {label}")
    assert not offenders, offenders


def test_vectorized_udfs_present():
    text = (PKG / "functions" / "text.py").read_text()
    assert "pandas_udf" in text
    blocks = (PKG / "operators" / "index_build.py").read_text()
    assert "mapInArrow" in blocks and "collect_list" in blocks
    wand = (PKG / "operators" / "wand.py").read_text()
    assert "mapInArrow" in wand
