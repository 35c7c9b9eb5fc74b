"""North-rule audit (BASELINE.md): no per-row Python anywhere in the
build/query paths — every Python crossing must be a vectorized pandas/Arrow
UDF (pandas_udf / applyInPandas / mapInPandas / mapInArrow). Bans row-at-a-time
``F.udf`` and RDD lambda transforms in the engine package — and pins that
the block-format version is written from its one constant and that one
function picks the scorer kernel."""

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


def test_one_function_picks_the_scorer_kernel():
    """``taat_topk`` is the only scorer entry in wand.py: no second fold
    entry, no kernel argument sized by the corpus or the chunking, no
    separate cache trim, and IndexReader.search names no kernel and no
    routing threshold — it calls taat_topk once."""
    import ast

    text = (PKG / "operators" / "wand.py").read_text()
    for name in ("taat_topk_decoded", "n_docs", "chunk_blocks", "_trim_raw_cache"):
        assert name not in text, name
    reader = next(
        n for n in ast.parse(text).body
        if isinstance(n, ast.ClassDef) and n.name == "IndexReader"
    )
    search = next(
        n for n in reader.body
        if isinstance(n, ast.FunctionDef) and n.name == "search"
    )
    source = ast.get_source_segment(text, search)
    assert "_taat_" not in source
    assert "MULTI_TAAT_EARLY_MIN_POSTINGS" not in source
    assert source.count("taat_topk(") == 1


def test_tombstones_go_through_one_membership_helper():
    """Every tombstone membership test in wand.py, and the fold's candidate
    filter, is a call of the one sorted-membership helper ``_member``
    (np.isin only inside it, no in1d or setdiff1d, no second mask helper),
    and ``_fold`` masks once per query: nothing in its per-term loops
    touches the tombstones."""
    import ast

    text = (PKG / "operators" / "wand.py").read_text()
    for name in ("np.in1d(", "np.setdiff1d(", "_mask_deleted", "_tombstoned"):
        assert name not in text, name
    funcs = {
        n.name: n for n in ast.walk(ast.parse(text))
        if isinstance(n, ast.FunctionDef)
    }
    assert _calling(funcs, "isin") == {"_member"}
    callers = {
        name for name, f in funcs.items()
        if any(
            isinstance(c, ast.Call) and getattr(c.func, "id", None) == "_member"
            for c in ast.walk(f)
        )
    }
    assert callers == {"_fold", "_taat_stop", "phrase"}, callers
    loops = (
        n for n in ast.walk(funcs["_fold"])
        if isinstance(n, (ast.For, ast.ListComp, ast.GeneratorExp))
    )
    for loop in loops:
        names = {n.id for n in ast.walk(loop) if isinstance(n, ast.Name)}
        assert not names & {"deleted", "_member"}, (
            ast.get_source_segment(text, loop)
        )


def _calling(funcs: dict, attr: str) -> set:
    """The names of the functions in ``funcs`` that use ``np.<attr>``."""
    import ast

    return {
        name for name, f in funcs.items()
        if any(
            isinstance(c, ast.Attribute) and c.attr == attr
            and getattr(c.value, "id", None) == "np"
            for c in ast.walk(f)
        )
    }


def test_one_fold_pass_and_one_topk_selection():
    """wand.py accumulates in one place, ``_fold``, with one np.bincount
    and no per-term scatter-add loop, and selects every top-k in one
    helper, ``_top``: no np.partition or np.argpartition elsewhere."""
    import ast

    text = (PKG / "operators" / "wand.py").read_text()
    funcs = {
        n.name: n for n in ast.walk(ast.parse(text))
        if isinstance(n, ast.FunctionDef)
    }
    assert "_fold" in _calling(funcs, "bincount")
    assert not any(isinstance(n, (ast.For, ast.AugAssign)) for n in ast.walk(funcs["_fold"]))
    assert _calling(funcs, "partition") == {"_top"}
    assert not _calling(funcs, "argpartition")


def test_one_early_stop_and_one_block_fold():
    """wand.py has one early stop (``_taat_stop``) and one fold over block
    arrays (``_fold_blocks``): none of the per-case kernels they replaced
    is defined, and only those two call the block decoder."""
    import ast

    text = (PKG / "operators" / "wand.py").read_text()
    funcs = {
        n.name: n for n in ast.walk(ast.parse(text))
        if isinstance(n, ast.FunctionDef)
    }
    for name in ("_taat_single_term", "_taat_multi_term", "_taat_windowed"):
        assert name not in funcs, name
    callers = {
        name for name, f in funcs.items()
        if any(
            isinstance(c, ast.Call) and getattr(c.func, "id", None) == "_decode_blocks"
            for c in ast.walk(f)
        )
    }
    assert callers == {"_taat_stop", "_fold_blocks"}, callers


def test_kernels_index_term_arrays():
    """The reader keeps each fetched term as block arrays (``_Term``) and
    the kernels index them: wand.py defines no namedtuple, turns no blocks
    column into Python objects (``to_pylist`` only on _search_batches'
    query columns, no ``as_py``/``to_pydict``), and no function takes a
    ``max_postings`` argument — the kernels read DECODE_MAX_POSTINGS when
    called."""
    import ast

    text = (PKG / "operators" / "wand.py").read_text()
    for name in ("namedtuple", "NamedTuple", "as_py(", "to_pydict("):
        assert name not in text, name
    funcs = [
        n for n in ast.walk(ast.parse(text))
        if isinstance(n, (ast.FunctionDef, ast.Lambda))
    ]
    calls = [
        (f, c) for f in funcs for c in ast.walk(f)
        if isinstance(c, ast.Attribute) and c.attr == "to_pylist"
    ]
    assert text.count("to_pylist") == len(calls) == 1
    (f, call), = calls
    assert f.name == "_search_batches"
    assert ast.get_source_segment(text, call) == "batch.column(c).to_pylist"
    for f in funcs:
        a = f.args
        names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        assert "max_postings" not in names, getattr(f, "name", "lambda")
