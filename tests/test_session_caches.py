"""The engine keeps all of its session state in one store,
``tables._SESSION_ARTIFACT_CACHE``, filled only through
``tables.session_artifact``.

These tests pin that:

- artifact-using ops fill the store, and ``clear_session_caches``
  empties it, scan plans included (a long-lived multi-sf session
  otherwise retains every localCheckpoint RDD it ever built — the
  ADVICE-r10 leak);
- each builder runs once per session, however often its op is built;
- after a clear, a rerun rebuilds and returns the same rows;
- no package module keeps session state of its own: no module-level
  dict or set outside the store and the process-level memos of pure
  functions, no session key spelled by hand, no hard-coded path of the
  checkout.
"""

from __future__ import annotations

import re
from collections import Counter
from pathlib import Path

import pytest

from vectordb_agentic_rag_spark import tables
from vectordb_agentic_rag_spark.registry import QUERIES, load_all_operators

PKG_ROOT = Path(tables.__file__).resolve().parent

# one op per artifact family: a checkpointed edge list built on another
# artifact, a bucketed table write, a parquet layout write, and a
# checkpointed domain frame shared by several ops
OPS = (
    "graph_triangle_wedge_cap",
    "join_bucketed_colocated",
    "vec_prenormalized_topk",
    "agg_runs_test",
)
# builders those ops must go through (besides the fixture scans)
BUILDERS = {
    "_cosupply_edges",
    "_oriented_cosupply_edges",
    "_ensure_bucketed",
    "_unit_embeddings",
    "_day_cent_totals",
    "table",
}

# process-level memos of pure functions or files: not session state
PROCESS_MEMOS = {
    "_JPEG_DHT_CACHE",
    "_JPEG_HUFF_LUT_CACHE",
    "_JAC_CODES_CACHE",
    "_SAMPLE_CACHE",
    "_qvec_cache",
    "_LZW_BASE_ENC",
    "_LZW_BASE_DEC",
    "_JPEG_DCONLY_MEMO",
    "_DEFLATE_REV_MEMO",
}


class _CountingStore(dict):
    """The store, counting every artifact put into it by key."""

    def __init__(self):
        super().__init__()
        self.builds: Counter = Counter()

    def __setitem__(self, key, value):
        self.builds[key] += 1
        super().__setitem__(key, value)


@pytest.fixture
def store(monkeypatch):
    load_all_operators()
    s = _CountingStore()
    monkeypatch.setattr(tables, "_SESSION_ARTIFACT_CACHE", s)
    return s


def _run_ops(spark, sf_dir) -> dict[str, list]:
    return {
        name: sorted(map(tuple, QUERIES[name](spark, sf_dir).collect()))
        for name in OPS
    }


def test_ops_fill_the_store_and_clear_empties_it(spark, sf_dir, store):
    _run_ops(spark, sf_dir)
    built = {key[1].__name__ for key in store}
    assert BUILDERS <= built, BUILDERS - built
    assert all(key[0] is spark.sparkContext for key in store)
    tables.clear_session_caches()
    assert not store


def test_each_builder_runs_once_per_session(spark, sf_dir, store):
    first = _run_ops(spark, sf_dir)
    n = len(store)
    assert _run_ops(spark, sf_dir) == first
    assert len(store) == n
    again = [k[1].__name__ for k, c in store.builds.items() if c != 1]
    assert not again, f"built more than once: {again}"


def test_rerun_after_clear_rebuilds_same_rows(spark, sf_dir, store):
    first = _run_ops(spark, sf_dir)
    keys = set(store)
    tables.clear_session_caches()
    assert _run_ops(spark, sf_dir) == first
    assert set(store) == keys
    assert set(store.builds.values()) == {2}


def test_keyword_cannot_slip_out_of_the_key(spark):
    @tables.session_artifact
    def build(spark, a, *, extra=None):
        return a

    assert build(spark, 1, extra="x") == 1
    with pytest.raises(TypeError, match="positionally"):
        build(spark, a=2)


def _package_sources():
    for py in sorted(PKG_ROOT.rglob("*.py")):
        yield py.relative_to(PKG_ROOT), py.read_text()


def test_no_module_keeps_session_state_of_its_own():
    # a module-level dict/set assignment, annotated or bare
    decl = re.compile(
        r"^(_\w+)\s*(?::[^=\n]*)?=\s*(?:\{\}|set\(\)|dict\(\))", re.MULTILINE
    )
    stores = {
        (str(rel), name)
        for rel, src in _package_sources()
        for name in decl.findall(src)
        if name not in PROCESS_MEMOS
    }
    assert stores == {("tables.py", "_SESSION_ARTIFACT_CACHE")}


@pytest.mark.parametrize(
    "needle",
    ["applicationId", "id(spark)", tables.REPO_ROOT],
    ids=["applicationId", "id_spark", "repo_root"],
)
def test_session_keys_and_repo_paths_live_in_tables_only(needle):
    hits = [
        str(rel)
        for rel, src in _package_sources()
        if needle in src and str(rel) != "tables.py"
    ]
    assert not hits, f"{needle!r} outside tables.py: {hits}"
