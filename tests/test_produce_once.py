"""Pin the produce-once setup contract (r16 verdict §3 ruling, r17 ask #8):
the amortization must stay SETUP-ONLY and auditable — one helper owns the
root+marker+build protocol, and queries.py never reaches _scratch_root
except through it (plus the one documented catalog-guarded bucketed-table
site)."""

import inspect
import os


def test_produce_once_root_builds_once_and_commits_marker(tmp_path):
    from mistocksync_spark.plans.queries import _produce_once_root

    base = str(tmp_path / "roots")
    calls = []

    def build(root):
        calls.append(root)
        os.makedirs(os.path.join(root, "tbl"), exist_ok=True)
        with open(os.path.join(root, "tbl", "part.parquet"), "w") as f:
            f.write("x")

    r1 = _produce_once_root(base, "unit", "/sf", "tagA", build)
    assert len(calls) == 1
    with open(os.path.join(r1, "_STATE_READY")) as f:
        assert f.read() == "tagA"

    # second call: marker present -> build NOT re-run, same root returned
    r2 = _produce_once_root(base, "unit", "/sf", "tagA", build)
    assert r2 == r1 and len(calls) == 1

    # a new content tag keys a DIFFERENT root and re-builds
    r3 = _produce_once_root(base, "unit", "/sf", "tagB", build)
    assert r3 != r1 and len(calls) == 2

    # an interrupted build (root exists, no marker) restarts from a CLEAN
    # slate: pre-existing junk under the root must not survive
    os.remove(os.path.join(r1, "_STATE_READY"))
    junk = os.path.join(r1, "stale_dir")
    os.makedirs(junk)
    r4 = _produce_once_root(base, "unit", "/sf", "tagA", build)
    assert r4 == r1 and len(calls) == 3
    assert not os.path.exists(junk)


def test_produce_once_root_propagates_build_failure_without_marker(tmp_path):
    from mistocksync_spark.plans.queries import _produce_once_root

    base = str(tmp_path / "roots")

    def bad_build(root):
        raise RuntimeError("boom")

    try:
        _produce_once_root(base, "unit", "/sf", "tagA", bad_build)
        raise AssertionError("expected RuntimeError")
    except RuntimeError:
        pass
    # no marker committed -> the next call re-runs the build
    done = []
    _produce_once_root(base, "unit", "/sf", "tagA", lambda r: done.append(r))
    assert len(done) == 1


def test_scratch_root_only_reachable_through_produce_once_helper():
    """Structural guarantee: every produce-once site in queries.py goes
    through _produce_once_root (whose contract forbids caching result
    frames), except the documented catalog-guarded bucketed-table site.
    A new direct _scratch_root caller must either use the helper or add
    its own documented exception here."""
    import mistocksync_spark.plans.queries as q

    src = inspect.getsource(q)
    lines = src.splitlines()
    callers = [
        (i + 1, ln.strip())
        for i, ln in enumerate(lines)
        if "_scratch_root(" in ln and "def _scratch_root" not in ln
    ]
    # exactly two call sites: inside _produce_once_root, and the bucketed
    # orders/customer tables (guarded by spark.catalog.tableExists)
    assert len(callers) == 2, callers
    assert any("_scratch_root(base, h)" in ln for _, ln in callers), callers
    assert any('"/tmp/spark_graft_bucketed"' in ln for _, ln in callers), callers


def test_stage_arrivals_partitions_the_batch_at_the_cut(spark, tmp_path):
    """The two arrival files are ``id <= cut`` then ``id > cut``: every row
    lands, ids of 10M and above included, and the first file is older."""
    from mistocksync_spark.plans.queries import _stage_arrivals

    ids = [0, 7, 4_500_000, 4_500_001, 9_999_999, 10_000_000, 12_345_678]
    batch = spark.createDataFrame([(i, f"d{i}") for i in ids], "doc_id long, text string")
    arrivals = _stage_arrivals(batch, "doc_id", 4_500_000, str(tmp_path))
    files = [os.path.join(arrivals, f"arrivals_{i}.parquet") for i in range(2)]
    halves = [sorted(r.doc_id for r in spark.read.parquet(f).collect()) for f in files]
    assert halves == [[0, 7, 4_500_000], [4_500_001, 9_999_999, 10_000_000, 12_345_678]]
    assert os.path.getmtime(files[0]) < os.path.getmtime(files[1])
