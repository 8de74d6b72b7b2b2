"""Round-6 registry split invariants: the package must present exactly
the same public surface the single-file registry did, stay within the
per-module size budget, and keep the EAGER set honest."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from kinesis_stream_reader_spark import registry
from kinesis_stream_reader_spark.scratch import SCRATCH_ROOT

PKG = Path(registry.__file__).parent


def test_queries_and_oracles_align():
    q = registry.queries()
    o = registry.oracle_sql()
    assert len(q) >= 461
    # every oracle belongs to a query; every query is callable
    assert set(o) <= set(q)
    assert all(callable(fn) for fn in q.values())
    # ordering: the priority head leads and is duplicate-free as seen
    head = list(q)[: len(registry._PRIORITY)]
    seen = []
    for n in registry._PRIORITY:
        if n in registry.QUERIES and n not in seen:
            seen.append(n)
    assert head[: len(seen)] == seen


def test_priority_has_no_duplicates():
    assert len(registry._PRIORITY) == len(set(registry._PRIORITY))


# The correctness driver samples the head of queries() and compares
# against oracle_sql(), so a registry refactor must keep the query order
# and every oracle's text byte-identical. Change these digests only
# together with a deliberate change to the order or to an oracle. The
# oracle digest is taken with the default scratch root (/tmp), the one
# the driver runs with.
QUERIES_ORDER_SHA256 = (
    "767738f3609cee5cc40890bd4e44d25c81647b980bfe4ac6e7be94ad1b47ec66"
)
ORACLE_SQL_SHA256 = (
    "2d9b377baf1ca7e85b381f2d194e5dfd7095c881870cc1e1798f465462d8d1b3"
)


def test_queries_order_and_oracle_text_pinned():
    names = "\n".join(registry.queries())
    oracles = json.dumps(list(registry.oracle_sql().items())).replace(
        f"'{SCRATCH_ROOT}/", "'/tmp/"
    )
    assert hashlib.sha256(names.encode()).hexdigest() == QUERIES_ORDER_SHA256
    assert hashlib.sha256(oracles.encode()).hexdigest() == ORACLE_SQL_SHA256


def test_no_module_exceeds_size_budget():
    for mod in PKG.glob("*.py"):
        n = len(mod.read_text().splitlines())
        assert n <= 6000, f"{mod.name} has {n} lines (budget 6000)"


def test_eager_set_is_subset_of_registry():
    assert registry.EAGER_QUERIES <= set(registry.QUERIES)
    # the census-collect trio the round-6 advice called out must be tagged
    for name in (
        "bradley_terry_arena",
        "pelt_changepoints",
        "markov_attribution_removal",
    ):
        assert name in registry.EAGER_QUERIES


def test_registration_is_unique():
    # register() would silently overwrite on a duplicate name; the split
    # must not have duplicated a slice
    names = list(registry.QUERIES)
    assert len(names) == len(set(names))


def test_python_map_boundary_is_rowmap():
    """Every per-row, per-batch and per-group Python kernel crosses into
    the Python worker through operators/rowmap.py: no pandas map or
    group closure (mapInPandas, applyInPandas, or a hand-written `def
    batches`) anywhere else in the package, and no grouped Arrow call
    (cogroup, applyInArrow) outside the adapter."""
    root = PKG.parent
    pandas_maps, pandas_groups, closures, arrow_groups = [], [], [], []
    for mod in sorted(root.rglob("*.py")):
        src = mod.read_text()
        rel = mod.relative_to(root).as_posix()
        if "mapInPandas(" in src:
            pandas_maps.append(rel)
        if "applyInPandas(" in src:
            pandas_groups.append(rel)
        if "def batches" in src:
            closures.append(rel)
        if ".cogroup(" in src or "applyInArrow" in src:
            arrow_groups.append(rel)
    assert pandas_maps == []
    assert pandas_groups == []
    assert closures == ["operators/rowmap.py"]
    assert arrow_groups == ["operators/rowmap.py"]


def test_one_writer_per_image_container():
    """Each image container is written by one function in
    operators/multimodal.py: the TIFF byte-order header, the lossless
    JPEG SOF3 marker and the PNG Adam7 pass walk each appear in exactly
    one encoder (decoders read them separately), so a per-variant copy
    of a container writer cannot come back."""
    import ast
    import re

    path = PKG.parent / "operators" / "multimodal.py"
    src = path.read_text()
    markers = {
        "tiff_header": r'b"II\*\\x00"',
        "sof3": r"\\xff\\xc3|0xC3\b",
        "adam7": r"\b_ADAM7\b",
    }
    writers = {k: [] for k in markers}
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("decode"):
            body = ast.get_source_segment(src, node)
            for key, marker in markers.items():
                if re.search(marker, body):
                    writers[key].append(node.name)
    assert writers == {
        "tiff_header": ["_tiff_file"],
        "sof3": ["encode_jpeg_lossless"],
        "adam7": ["encode_png"],
    }
