"""derived.py — the one registry of in-memory derived state.

A rewritten table must never be answered from a memo built over the old
one, in the same session, and no module may keep a memo of its own
that `derived.clear()` cannot reach.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import ingestprocessstoreinnrt_spark
from ingestprocessstoreinnrt_spark.operators import artifacts
from tests.conftest import SF_SMOKE
from tools.oracle_check import _duck_con, _norm_rows


@pytest.fixture()
def sf(tmp_path, monkeypatch):
    """A writable copy of the smoke corpus, with its own artifact dir."""
    monkeypatch.setattr(artifacts, "_ART_DIR", str(tmp_path / "art"))
    dst = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, dst)
    os.chmod(dst, 0o755)
    for n in os.listdir(dst):
        os.chmod(dst / n, 0o644)
    return str(dst)


def _spark_rows(spark, sf_dir: str, name: str):
    import __spark_entry__ as e

    df = e.queries()[name](spark, sf_dir)
    return _norm_rows(df.columns, [tuple(r) for r in df.collect()])


def _twin_rows(sf_dir: str, name: str):
    import __spark_entry__ as e

    con = _duck_con(sf_dir)
    try:
        cur = con.execute(e.oracle_sql()[name])
        return _norm_rows([c[0] for c in cur.description], cur.fetchall())
    finally:
        con.close()


def _rewrite(sf_dir: str, table: str, edit) -> None:
    p = os.path.join(sf_dir, f"{table}.parquet")
    pq.write_table(edit(pq.read_table(p)), p)


def test_rewritten_lineitem_is_read_fresh(spark, sf):
    name = "bi_small_qty_revenue"
    cols, before = _spark_rows(spark, sf, name)
    _rewrite(sf, "lineitem", lambda t: pa.concat_tables([t, t]))
    got = _spark_rows(spark, sf, name)
    assert got == _twin_rows(sf, name)
    b, n = cols.index("p_brand"), cols.index("n_small")
    assert {r[b]: 2 * r[n] for r in before} == {r[b]: r[n] for r in got[1]}


def test_rewritten_table_drops_spark_cached_data(spark, sf):
    """A frame .cache()d over the old file is not served for the new
    one: Spark's cache manager matches plans by path alone."""
    from ingestprocessstoreinnrt_spark.catalog import load_table

    def small(df):
        return df.filter("l_quantity < 5").select("l_orderkey")

    old = small(load_table(spark, sf, "lineitem")).cache()
    n = old.count()
    _rewrite(sf, "lineitem", lambda t: pa.concat_tables([t, t]))
    try:
        assert small(load_table(spark, sf, "lineitem")).count() == 2 * n
    finally:
        old.unpersist()


def test_rewritten_embeddings_refit_kmeans(spark, sf):
    name = "ml_kmeans"
    before = _spark_rows(spark, sf, name)
    assert before == _twin_rows(sf, name)
    _rewrite(sf, "embeddings", lambda t: t.slice(0, t.num_rows * 3 // 5))
    got = _spark_rows(spark, sf, name)
    assert got != before
    assert got == _twin_rows(sf, name)


def test_same_second_same_size_rewrite_changes_centroid_key(spark, sf):
    """Only the sub-second mtime moves: a key made of whole-second
    mtime and size cannot see this rewrite."""
    from ingestprocessstoreinnrt_spark.operators import ml

    def fit():
        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        q = emb.select("vec_id", ml._qvec().alias("qv"))
        return ml.fit_centroids(spark, q, 4, 2, memo_key=sf)

    miss0 = artifacts.STATS["miss"]
    first = fit()
    assert artifacts.STATS["miss"] == miss0 + 1
    assert fit() == first  # unchanged corpus: no new artifact
    assert artifacts.STATS["miss"] == miss0 + 1
    p = Path(sf, "embeddings.parquet")
    st = p.stat()
    p.write_bytes(p.read_bytes())
    step = -1 if st.st_mtime_ns % 10**9 == 10**9 - 1 else 1
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + step))
    assert fit() == first
    assert artifacts.STATS["miss"] == miss0 + 2, "rewrite must re-key"


def test_concurrent_gets_share_one_entry_and_count_every_call():
    """More threads than cores on a tiny switch interval: every caller
    of a key gets the one stored object and no hit or miss is lost."""
    from ingestprocessstoreinnrt_spark import derived

    owner = SimpleNamespace(_derived_owner=("stress-app", "stress-session"))
    kind, threads, calls, keys = "stress", 8, 400, 16
    base = dict(derived.STATS.get(kind, {"hit": 0, "miss": 0}))
    seen: list[dict] = [{} for _ in range(threads)]

    def work(i: int) -> None:
        for j in range(calls):
            k = (i + j) % keys
            seen[i].setdefault(k, set()).add(
                id(derived.get(owner, kind, None, k, lambda: object()))
            )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as ex:
            for f in [ex.submit(work, i) for i in range(threads)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
        derived.clear()
    for k in range(keys):
        assert len(set().union(*(s.get(k, set()) for s in seen))) == 1, k
    c = derived.STATS[kind]
    assert c["hit"] + c["miss"] - base["hit"] - base["miss"] == threads * calls


def test_no_module_memo_escapes_the_registry():
    """Every module-level dict named like a memo or cache lives in
    derived.py, except the builder-source digests in artifacts (keyed
    by file path, size and mtime, so they cannot go stale)."""
    pkg = ingestprocessstoreinnrt_spark
    allowed = {(f"{pkg.__name__}.operators.artifacts", "_CODE_FP_CACHE")}
    escaped = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        if info.name == f"{pkg.__name__}.derived":
            continue
        mod = importlib.import_module(info.name)
        for attr, val in vars(mod).items():
            tag = attr.upper()
            if (
                isinstance(val, dict)
                and ("MEMO" in tag or "CACHE" in tag)
                and (info.name, attr) not in allowed
            ):
                escaped.append(f"{info.name}.{attr}")
    assert not escaped, f"memo outside derived.py: {escaped}"
