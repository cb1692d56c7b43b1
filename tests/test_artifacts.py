"""artifact_plan hardening: staleness-by-construction (code + data
fingerprints in the path), atomic cross-process writes, load-path ≡
build-path roundtrip, and the ranked_by_range persist-leak fix.

These pin the exact failure classes round 7 shipped without tests:
a trainer edit with no ARTIFACT_V bump silently serving an old model,
and regenerated driver testdata silently serving stale splits.
"""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark_recs.workloads import common as C

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def artifact_root(tmp_path, monkeypatch):
    root = str(tmp_path / "artifacts")
    monkeypatch.setattr(C, "ARTIFACT_ROOT", root)
    yield root
    C.unpersist_shared()


def _fake_sf(tmp_path, payloads):
    """A tiny fake testdata dir: each (name, bytes) becomes
    <name>.parquet (content only matters to the fingerprint)."""
    d = tmp_path / "sfX"
    d.mkdir(parents=True, exist_ok=True)
    for name, blob in payloads:
        (d / f"{name}.parquet").write_bytes(blob)
    return str(d)


# ---------------------------------------------------------------- fingerprints
def test_data_fingerprint_moves_on_content_change(tmp_path):
    a = _fake_sf(tmp_path / "a", [("orders", b"x" * 100)])
    b = _fake_sf(tmp_path / "b", [("orders", b"x" * 100)])
    assert C.data_fingerprint(a) == C.data_fingerprint(b)
    c = _fake_sf(tmp_path / "c", [("orders", b"y" * 100)])  # same size, new bytes
    assert C.data_fingerprint(a) != C.data_fingerprint(c)
    d = _fake_sf(tmp_path / "d", [("orders", b"x" * 101)])  # new size
    assert C.data_fingerprint(a) != C.data_fingerprint(d)
    e = _fake_sf(tmp_path / "e", [("orders", b"x" * 100), ("extra", b"z")])
    assert C.data_fingerprint(a) != C.data_fingerprint(e)


def test_data_fingerprint_ignores_mtime(tmp_path):
    a = _fake_sf(tmp_path / "a", [("orders", b"x" * 100)])
    fp1 = C.data_fingerprint(a)
    C._FP_CACHE.pop(("data", os.path.normpath(os.path.abspath(a))))
    os.utime(os.path.join(a, "orders.parquet"), (1, 1))  # fresh-clone analog
    assert C.data_fingerprint(a) == fp1


def test_data_fingerprint_every_byte_matters(tmp_path):
    # Full-content hash: a single flipped byte ANYWHERE — middle
    # included (the old 4KiB head/tail window's blind spot) — moves
    # the fingerprint.
    base = bytearray(b"h" * 4096 + b"m" * 4096 + b"t" * 4096)
    mid = bytearray(base)
    mid[6000] = ord(b"M")
    tail = bytearray(base)
    tail[-10] = ord(b"T")
    a = _fake_sf(tmp_path / "a", [("t", bytes(base))])
    b = _fake_sf(tmp_path / "b", [("t", bytes(mid))])
    c = _fake_sf(tmp_path / "c", [("t", bytes(tail))])
    assert C.data_fingerprint(a) != C.data_fingerprint(b)
    assert C.data_fingerprint(a) != C.data_fingerprint(c)
    assert C.data_fingerprint(b) != C.data_fingerprint(c)


def test_code_fingerprint_moves_on_source_edit(tmp_path):
    # Same mechanism artifact_plan uses, pointed at a scratch tree: an
    # unbumped-source edit must move the fingerprint (and so the path).
    pkg = tmp_path / "pkg" / "model"
    pkg.mkdir(parents=True)
    (pkg / "content.py").write_text("COEF = 1\n")

    import glob as _glob
    import hashlib as _hashlib

    def fp():
        h = _hashlib.md5()
        for f in sorted(_glob.glob(str(pkg / "*.py"))):
            with open(f, "rb") as fh:
                h.update(os.path.basename(f).encode())
                h.update(fh.read())
        return h.hexdigest()

    before = fp()
    (pkg / "content.py").write_text("COEF = 2\n")  # the forgotten bump
    assert fp() != before
    # and the real fingerprint hashes the real trainer sources
    real = C.code_fingerprint()
    assert len(real) == 32
    assert C.code_fingerprint() == real  # cached + stable in-process


def test_code_fingerprint_covers_whole_package():
    """The ADVICE gap: builders also lean on llmops/hashing.py,
    io/loaders.py and fixedpoint.py — an edit there changes
    artifact CONTENTS, so it must also move the PATH. The glob set
    must resolve to every .py in the package, keyed by relpath (two
    __init__.py files must not alias)."""
    import glob as _glob

    pkg = os.path.dirname(os.path.abspath(C.__file__))
    pkg = os.path.dirname(pkg)  # pyspark_recs/
    files = set()
    for pat in C._CODE_FP_GLOBS:
        files.update(_glob.glob(os.path.join(pkg, pat), recursive=True))
    rels = {os.path.relpath(f, pkg).replace(os.sep, "/") for f in files}
    for must in (
        "llmops/hashing.py",
        "io/loaders.py",
        "fixedpoint.py",
        "workloads/common.py",
        "workloads/llmops.py",
        "workloads/recsys.py",
        "model/retrieval.py",
        "features/categorify.py",
        "sql/transforms.py",
    ):
        assert must in rels, must
    # more than one __init__.py exists — relpath keying, not basename
    assert sum(1 for r in rels if r.endswith("__init__.py")) > 1


def test_lock_contention_serves_own_build_untouched_destination(
    spark, artifact_root
):
    """The ADVICE race: when the destructive replace is already claimed
    by another process (lock file present) and the destination is
    incomplete, the caller must serve its OWN complete tmp build and
    must NOT delete the destination out from under the lock holder."""

    def build():
        return spark.range(7).selectExpr("id", "id * 3 as score")

    df = C.artifact_plan(spark, SF_DIR, "lock_test", "1", build)
    df.count()
    C.unpersist_shared()
    tag = os.listdir(artifact_root)[0]
    stem = [d for d in os.listdir(os.path.join(artifact_root, tag))
            if d.startswith("lock_test_v1-")][0]
    path = os.path.join(artifact_root, tag, stem)
    # fake a crashed writer's leftover + a concurrent cleaner's lock
    os.remove(os.path.join(path, "_SUCCESS"))
    with open(path + ".lock", "w"):
        pass

    df2 = C.artifact_plan(spark, SF_DIR, "lock_test", "1", build)
    got = {r["id"]: r["score"] for r in df2.collect()}
    assert got == {i: i * 3 for i in range(7)}
    # destination untouched (lock holder owns it); our tmp leftover
    # survives for tools/prune_artifacts.py to sweep
    assert os.path.exists(path)
    assert not os.path.exists(os.path.join(path, "_SUCCESS"))
    leftovers = [d for d in os.listdir(os.path.join(artifact_root, tag))
                 if d.startswith(stem + ".build-")]
    assert leftovers
    os.remove(path + ".lock")


# ------------------------------------------------------------- artifact_plan
def test_artifact_roundtrip_load_path_equals_build_path(spark, artifact_root):
    """load-path ≡ build-path: a second artifact_plan call (fresh
    session memo) must serve byte-identical rows from parquet."""
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).selectExpr(
            "id", "cast(id * 1.5 as double) as score"
        )

    df1 = C.artifact_plan(spark, SF_DIR, "rt_test", "1", build)
    rows1 = sorted(tuple(r) for r in df1.collect())
    assert calls == [1]

    C.unpersist_shared()  # drop the session memo; parquet remains
    df2 = C.artifact_plan(spark, SF_DIR, "rt_test", "1", build)
    rows2 = sorted(tuple(r) for r in df2.collect())
    assert calls == [1], "second call must LOAD, not rebuild"
    assert rows1 == rows2
    assert df1.schema == df2.schema


def test_unbumped_code_change_cannot_serve_stale_artifact(
    spark, artifact_root, monkeypatch
):
    """The round-7 footgun: builder semantics change, ARTIFACT_V not
    bumped. The code fingerprint must move the path so the old binary
    is never found."""

    def build_v_old():
        return spark.range(5).selectExpr("id", "id * 10 as score")

    C.artifact_plan(spark, SF_DIR, "stale_test", "1", build_v_old)
    C.unpersist_shared()

    # simulate the unbumped source edit by moving the code fingerprint
    monkeypatch.setitem(
        C._FP_CACHE, ("code", C._CODE_FP_GLOBS), "deadbeef" * 4
    )

    def build_v_new():
        return spark.range(5).selectExpr("id", "id * 20 as score")

    df = C.artifact_plan(spark, SF_DIR, "stale_test", "1", build_v_new)
    got = {r["id"]: r["score"] for r in df.collect()}
    assert got[1] == 20, "stale artifact served despite changed code"
    # both artifacts coexist under distinct fingerprinted paths
    tag_dirs = os.listdir(artifact_root)
    assert len(tag_dirs) == 1
    stems = [d for d in os.listdir(os.path.join(artifact_root, tag_dirs[0]))
             if d.startswith("stale_test_v1-")]
    assert len(stems) == 2


def test_changed_data_cannot_serve_stale_artifact(spark, tmp_path, artifact_root):
    """Regenerated testdata at the SAME path must miss old artifacts
    (the ADVICE-high scenario: driver regenerates sf dirs per round)."""
    sf = _fake_sf(tmp_path, [("orders", b"round7-data")])

    def build():
        return spark.range(3)

    C.artifact_plan(spark, sf, "data_test", "1", build)
    C.unpersist_shared()
    # regenerate the data in place
    (tmp_path / "sfX" / "orders.parquet").write_bytes(b"round8-data!")
    C._FP_CACHE.pop(("data", os.path.normpath(os.path.abspath(sf))), None)
    C.artifact_plan(spark, sf, "data_test", "1", build)
    tag = os.listdir(artifact_root)[0]
    stems = [d for d in os.listdir(os.path.join(artifact_root, tag))
             if d.startswith("data_test_v1-")]
    assert len(stems) == 2, "same data fp reused despite content change"


def test_corrupt_leftover_is_replaced(spark, artifact_root):
    """A destination dir WITHOUT _SUCCESS (crashed writer) must be
    replaced, not served."""

    def build():
        return spark.range(4)

    # first call creates the real path; derive it, then fake corruption
    df = C.artifact_plan(spark, SF_DIR, "corrupt_test", "1", build)
    df.count()
    C.unpersist_shared()
    tag = os.listdir(artifact_root)[0]
    stem = [d for d in os.listdir(os.path.join(artifact_root, tag))
            if d.startswith("corrupt_test_v1-")][0]
    path = os.path.join(artifact_root, tag, stem)
    shutil.rmtree(path)
    os.makedirs(path)  # exists, no _SUCCESS, no part-files
    with open(os.path.join(path, "part-garbage"), "wb") as fh:
        fh.write(b"not parquet")

    df2 = C.artifact_plan(spark, SF_DIR, "corrupt_test", "1", build)
    assert df2.count() == 4
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


# ---------------------------------------------------------- persist teardown
def test_ranked_by_range_intermediate_released_by_teardown(spark):
    from pyspark_recs.sql.transforms import categorify_dictionary

    sc = spark.sparkContext
    df = spark.range(1000).selectExpr("cast(id % 37 as string) as v")
    out = categorify_dictionary(df, "v")
    assert out.count() == 37
    # the range-partitioned intermediate is persisted, and teardown
    # frees everything the session persisted
    released = C.unpersist_shared(spark)
    assert released >= 1
    # registry is empty for this app afterwards
    app = sc.applicationId
    assert not [k for k in C._SHARED if k[0] == app]


# ------------------------------------------------------------ warm-set GC map
def test_prune_tool_warm_set_covers_every_artifact_call_site():
    """tools/prune_artifacts.py rebuilds the store by running a warm
    query per artifact key — a call site missing from its map would
    leave a hole in the committed store after GC."""
    import re
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.prune_artifacts import KEY_COVERAGE, WARM_QUERIES

    pkg = os.path.join(repo, "pyspark_recs")
    found = set()
    for base, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                src = open(os.path.join(base, f)).read()
                found.update(
                    re.findall(r"artifact_plan\(\s*spark,\s*sf,\s*\"(\w+)\"", src)
                )
    assert found == set(KEY_COVERAGE), (
        found ^ set(KEY_COVERAGE)
    )
    assert set(KEY_COVERAGE.values()) <= set(WARM_QUERIES)
    from pyspark_recs.workloads import QUERIES

    for q in WARM_QUERIES:
        assert q in QUERIES, q


def test_data_fingerprint_handles_directory_tables(tmp_path):
    # Spark-written tables are DIRECTORIES of part-files (the 10x
    # scale scratch dir shape); the fingerprint must hash their
    # contents, not crash on open(dir).
    d = tmp_path / "sfY"
    (d / "orders.parquet").mkdir(parents=True)
    (d / "orders.parquet" / "part-0.snappy.parquet").write_bytes(b"aaa")
    (d / "orders.parquet" / "_SUCCESS").write_bytes(b"")
    fp1 = C.data_fingerprint(str(d))
    C._FP_CACHE.pop(("data", os.path.normpath(str(d))))
    (d / "orders.parquet" / "part-0.snappy.parquet").write_bytes(b"aab")
    assert C.data_fingerprint(str(d)) != fp1
