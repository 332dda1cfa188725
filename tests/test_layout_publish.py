"""Concurrency-safe layout publish protocol (VERDICT r12 item 1).

The round-12 judge session raced two sessions over the shared
``spark-warehouse`` layout dirs: one session's rmtree+rewrite of
``p_events_sf0_001`` landed mid-scan of the other → FAILED_READ_FILE.
These tests pin the round-13 protocol (sources/layouts.py): a layout
is staged in a session-unique dir, installed with one atomic rename,
and NEVER rewritten once published — so the "second session rebuilds
under the first session's feet" interleave is structurally impossible.
The second session is simulated by erasing everything session-local
(catalog tables, memo sets) and re-running the builder: with the old
protocol that path rewrote the shared dir; with the new one it must
adopt the published layout byte-untouched.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_TINY
from presto_cached_examples_spark.plans import artifacts
from presto_cached_examples_spark.sources import layouts
from presto_cached_examples_spark.operators.scans import (
    _evolved_snapshots,
    _landed_docs_path,
    _partitioned_events,
    _reap_stale_siblings,
)
from presto_cached_examples_spark.operators.joins import _bucketed_tables


def _dir_snapshot(root: str) -> list[tuple[str, int, int]]:
    """(relpath, size, mtime_ns) of every file under root — any write,
    rewrite, or delete inside a published layout changes this."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return sorted(out)


def test_partitioned_events_fresh_session_never_rewrites(spark):
    """The real round-12 race, interleave-simulated: a 'new session'
    (no catalog entry) re-running the builder must adopt the published
    canonical dir without touching a single byte of it."""
    t = _partitioned_events(spark, SF_TINY)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED `{t}`")
        .filter(F.col("col_name") == "Location")
        .collect()[0][1]
    )
    canonical = loc.replace("file:", "")
    before = _dir_snapshot(canonical)
    ino = os.stat(canonical).st_ino
    assert before, "published layout is empty"
    n0 = spark.table(t).count()
    # simulate the second session: its private catalog has no entry,
    # so the old code took the rmtree+rewrite path here
    spark.sql(f"DROP TABLE `{t}`")
    t2 = _partitioned_events(spark, SF_TINY)
    assert t2 == t
    assert os.stat(canonical).st_ino == ino, "canonical dir was replaced"
    assert _dir_snapshot(canonical) == before, "published layout was rewritten"
    assert spark.table(t2).count() == n0


def test_bucketed_tables_fresh_session_never_rewrites(spark):
    to, tl = _bucketed_tables(spark, SF_TINY)
    locs = {}
    for t in (to, tl):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED `{t}`")
            .filter(F.col("col_name") == "Location")
            .collect()[0][1]
        )
        locs[t] = loc.replace("file:", "")
    before = {t: _dir_snapshot(p) for t, p in locs.items()}
    spark.sql(f"DROP TABLE `{to}`")
    spark.sql(f"DROP TABLE `{tl}`")
    to2, tl2 = _bucketed_tables(spark, SF_TINY)
    assert (to2, tl2) == (to, tl)
    for t, p in locs.items():
        assert _dir_snapshot(p) == before[t], f"{t} layout was rewritten"
    # the adopted external bucketed table still joins exchange-free
    j = (
        spark.table(to2)
        .hint("merge")
        .join(spark.table(tl2), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_evolved_and_landed_layouts_never_rewrite(spark):
    p1, p2 = _evolved_snapshots(spark, SF_TINY)
    root = os.path.dirname(p1)
    docs = _landed_docs_path(spark, SF_TINY, "json")
    before_root, before_docs = _dir_snapshot(root), _dir_snapshot(docs)
    # second session: the landed-docs memo is session-local state
    artifacts.forget(spark, SF_TINY, ("landed_docs", docs))
    q1, q2 = _evolved_snapshots(spark, SF_TINY)
    docs2 = _landed_docs_path(spark, SF_TINY, "json")
    assert (q1, q2, docs2) == (p1, p2, docs)
    assert _dir_snapshot(root) == before_root
    assert _dir_snapshot(docs) == before_docs


def test_publish_loser_discards_staging_keeps_winner(tmp_path):
    canonical = str(tmp_path / "layout")
    win = str(tmp_path / "win.stg.a")
    os.makedirs(win)
    open(os.path.join(win, "_SUCCESS"), "w").close()
    open(os.path.join(win, "part-0"), "w").write("winner")
    assert layouts.publish(win, canonical) is True
    lose = str(tmp_path / "lose.stg.b")
    os.makedirs(lose)
    open(os.path.join(lose, "part-0"), "w").write("loser")
    assert layouts.publish(lose, canonical) is False
    assert not os.path.exists(lose), "loser staging must be discarded"
    assert open(os.path.join(canonical, "part-0")).read() == "winner"


def test_publish_never_adopts_unpublished_debris(tmp_path):
    """ADVICE r13 item 1: a publish whose rename loses against a dir
    WITHOUT ``_SUCCESS`` must not adopt it — that dir is pre-protocol
    debris another session may sweep at any moment; adopting it would
    serve empty scans for the session's life. The debris is cleared and
    the publish retried, so the COMPLETE staging wins."""
    canonical = str(tmp_path / "layout_aaaa_bbbb")
    os.makedirs(canonical)
    open(os.path.join(canonical, "part-0"), "w").write("debris")  # no _SUCCESS
    stg = str(tmp_path / "layout_aaaa_bbbb.stg.tok")
    os.makedirs(stg)
    open(os.path.join(stg, "_SUCCESS"), "w").close()
    open(os.path.join(stg, "part-0"), "w").write("complete")
    assert layouts.publish(stg, canonical) is True
    assert open(os.path.join(canonical, "part-0")).read() == "complete"
    assert layouts.is_published(canonical)
    assert not [e for e in os.listdir(tmp_path) if layouts._TRASH_MARK in e], (
        "sweep left trash debris behind"
    )


def test_debris_sweep_restores_stolen_published_layout(tmp_path, monkeypatch):
    """The one interleave rename-aside alone cannot exclude: a publish
    lands between the sweep's publishedness probe and its rename, so
    the sweep renamed a LIVE layout aside. The re-probe on the trash
    dir must detect this and atomically restore the layout."""
    canonical = str(tmp_path / "layout_cafe_f00d")
    os.makedirs(canonical)
    open(os.path.join(canonical, "_SUCCESS"), "w").close()
    open(os.path.join(canonical, "part-0"), "w").write("live")
    real = layouts.is_published
    probes = {"n": 0}

    def racy_probe(path):
        probes["n"] += 1
        # first probe: simulate the concurrent-publish interleave by
        # reporting the (actually published) canonical as debris
        return False if probes["n"] == 1 else real(path)

    monkeypatch.setattr(layouts, "is_published", racy_probe)
    layouts.clear_unpublished_debris(canonical)
    assert real(canonical), "stolen published layout was not restored"
    assert open(os.path.join(canonical, "part-0")).read() == "live"
    assert not [e for e in os.listdir(tmp_path) if layouts._TRASH_MARK in e]


def test_reap_covers_abandoned_trash(tmp_path):
    """A sweeper killed between its rename-aside and its rmtree leaves
    a ``.trash.`` dir; the staging reaper retires it on the same age
    gate (and never touches a fresh one mid-sweep)."""
    wh = str(tmp_path)
    dead = os.path.join(wh, "layout_aaaa_bbbb.trash.deadbeef0123")
    fresh = os.path.join(wh, "layout_aaaa_bbbb.trash.0123deadbeef")
    for d in (dead, fresh):
        os.makedirs(d)
    os.utime(dead, (1, 1))
    layouts.reap_stale_staging(wh, max_age_s=60.0)
    assert not os.path.exists(dead)
    assert os.path.exists(fresh), "a concurrent sweep's trash dir was reaped mid-delete"


def test_publish_reraises_when_canonical_still_missing(tmp_path):
    """rename failing while the canonical is absent is a REAL error —
    adopting it would register a table over nothing."""
    with pytest.raises(OSError):
        layouts.publish(str(tmp_path / "never_written.stg.x"), str(tmp_path / "gone"))


def test_reap_stale_staging_is_age_gated(tmp_path):
    wh = str(tmp_path)
    old = os.path.join(wh, "p_events_x.stg.dead")
    fresh = os.path.join(wh, "p_events_x.stg.live")
    plain = os.path.join(wh, "p_events_x_aaaa_bbbb")
    for d in (old, fresh, plain):
        os.makedirs(d)
    os.utime(old, (1, 1))  # epoch-old: abandoned
    layouts.reap_stale_staging(wh, max_age_s=60.0)
    assert not os.path.exists(old)
    assert os.path.exists(fresh), "a live builder's staging was reaped"
    assert os.path.exists(plain), "published layouts are not staging"


def test_fingerprint_reaper_never_matches_staging(tmp_path):
    """The anchored ``<fp>$`` sibling reaper must not see staging dirs
    — '.stg.' contains non-hex characters by construction."""
    wh = str(tmp_path)
    keep = os.path.join(wh, "p_events_sf0_001_aaaa_bbbb")
    stg = os.path.join(wh, "p_events_sf0_001_cafe_f00d.stg.tok")
    stale = os.path.join(wh, "p_events_sf0_001_1234_cafe")
    young = os.path.join(wh, "p_events_sf0_001_5678_beef")
    for d in (keep, stg, stale, young):
        os.makedirs(d)
    os.utime(stale, (1, 1))  # superseded long ago — no reader can remain
    _reap_stale_siblings(wh, "p_events_sf0_001_", keep)
    assert os.path.exists(keep)
    assert os.path.exists(stg), "reaper deleted a concurrent session's staging"
    assert not os.path.exists(stale)
    # ADVICE r13 item 2: a RECENTLY superseded sibling may still be
    # mid-scan by a session that started on the old fixture — the
    # reaper must age-gate it exactly like stale staging
    assert os.path.exists(young), "fresh superseded sibling reaped under a possible reader"


def test_scan_during_fresh_session_rebuild_interleave(spark):
    """End-to-end replay of the r12 failure shape: reader scans the
    layout WHILE the 'new session' builder path runs between its
    batches. With publish-once semantics the builder never writes, so
    every scan sees a complete, stable directory."""
    t = _partitioned_events(spark, SF_TINY)
    expected = spark.table(t).count()
    for _ in range(3):
        spark.sql(f"DROP TABLE `{t}`")
        _partitioned_events(spark, SF_TINY)
        assert spark.table(t).count() == expected


def test_two_process_concurrent_layout_build(tmp_path):
    """TRUE two-session race (not an interleave simulation): two
    separate JVM/Python processes build the SAME events layout into
    the SAME warehouse at the same time. Exactly one publish must win,
    neither session may ever observe an in-flight directory, both must
    read the same row count, and no staging debris may survive."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = str(tmp_path / "shared_wh")
    worker = f"""
import sys
sys.path.insert(0, {repo!r})
from presto_cached_examples_spark import get_session
from presto_cached_examples_spark.operators.scans import _partitioned_events
spark = get_session(
    app_name="race-" + sys.argv[1], cpus="4", shuffle_partitions=4,
    extra_conf={{"spark.sql.warehouse.dir": {wh!r}}},
)
t = _partitioned_events(spark, {SF_TINY!r})
print("COUNT", spark.table(t).count(), flush=True)
spark.stop()
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, tag],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            env=env,
            cwd=repo,
        )
        for tag in ("a", "b")
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    counts = []
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"worker failed:\n{out}\n{err[-2000:]}"
        counts.append([l for l in out.splitlines() if l.startswith("COUNT")][0])
    assert counts[0] == counts[1], counts
    entries = os.listdir(wh)
    canonicals = [e for e in entries if e.startswith("p_events_") and ".stg." not in e]
    stagings = [e for e in entries if ".stg." in e]
    assert len(canonicals) == 1, entries
    assert not stagings, f"staging debris survived: {stagings}"
    assert os.path.exists(os.path.join(wh, canonicals[0], "_SUCCESS"))


def test_two_process_debris_clear_races_publish_and_scan(tmp_path):
    """VERDICT r13 item 3 done-criterion: a TRUE multi-process race of
    the migration path — pre-round-13 debris sits at the canonical
    path, one process builds/publishes/scans the events layout while
    TWO sweeper processes hammer ``clear_unpublished_debris`` on that
    same canonical the whole time (two sweepers + one publisher is the
    exact three-party interleave the steal-restore branch exists for:
    sweeper A probes, sweeper B clears, the publish lands, A renames).
    The builder must come up green (correct counts on repeated scans),
    the published layout must survive both sweepers, and no trash or
    staging debris may remain."""
    import re
    import subprocess
    import sys

    from presto_cached_examples_spark.sources.catalog import source_fingerprint

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = str(tmp_path / "shared_wh")
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", SF_TINY.rstrip("/").rsplit("/", 1)[-1])
    canonical = os.path.join(wh, f"p_events_{tag}_{source_fingerprint(SF_TINY, 'events')}")
    # pre-protocol debris: exists, has data files, no _SUCCESS
    os.makedirs(canonical)
    open(os.path.join(canonical, "part-00000"), "w").write("killed mid-write")
    builder = f"""
import sys
sys.path.insert(0, {repo!r})
from presto_cached_examples_spark import get_session
from presto_cached_examples_spark.operators.scans import _partitioned_events
spark = get_session(
    app_name="race-builder", cpus="4", shuffle_partitions=4,
    extra_conf={{"spark.sql.warehouse.dir": {wh!r}}},
)
t = _partitioned_events(spark, {SF_TINY!r})
for _ in range(5):
    print("COUNT", spark.table(t).count(), flush=True)
spark.stop()
"""
    sweeper = f"""
import os, sys, time
sys.path.insert(0, {repo!r})
from presto_cached_examples_spark.sources import layouts
canonical = {canonical!r}
deadline = time.monotonic() + 240
sweeps = 0
while time.monotonic() < deadline:
    layouts.clear_unpublished_debris(canonical)
    sweeps += 1
    if layouts.is_published(canonical):
        break
    time.sleep(0.001)
# keep racing a while AFTER publish — the protocol must make these no-ops
for _ in range(1000):
    layouts.clear_unpublished_debris(canonical)
print("SWEEPS", sweeps, "PUBLISHED", layouts.is_published(canonical), flush=True)
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            env=env,
            cwd=repo,
        )
        for code in (builder, sweeper, sweeper)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, f"worker failed:\n{out}\n{err[-2000:]}"
    counts = {l for l in outs[0][0].splitlines() if l.startswith("COUNT")}
    assert len(counts) == 1, f"scan counts unstable under sweeper race: {counts}"
    for out, _err in outs[1:]:
        assert "PUBLISHED True" in out, out
    assert layouts.is_published(canonical), "published layout did not survive the sweeper"
    leftovers = [
        e
        for e in os.listdir(wh)
        if layouts._TRASH_MARK in e or layouts._STG_MARK in e
    ]
    assert not leftovers, f"trash/staging debris survived: {leftovers}"


def test_debris_clear_never_sweeps_published_layouts(tmp_path):
    """clear_unpublished_debris: the pre-r13 debris sweep must re-check
    publishedness immediately before the rmtree — an unconditional
    rmtree after an earlier is_published probe could delete a layout a
    concurrent session published in between (the TOCTOU variant of the
    r12 race)."""
    published = str(tmp_path / "p_events_x_aaaa_bbbb")
    os.makedirs(published)
    open(os.path.join(published, "_SUCCESS"), "w").close()
    layouts.clear_unpublished_debris(published)
    assert os.path.exists(published), "published layout was swept as debris"
    debris = str(tmp_path / "p_events_y_aaaa_bbbb")
    os.makedirs(debris)
    open(os.path.join(debris, "part-0"), "w").write("partial")
    layouts.clear_unpublished_debris(debris)
    assert not os.path.exists(debris), "unpublished debris survived"
    layouts.clear_unpublished_debris(str(tmp_path / "never_existed"))  # no-op
