"""Multi-writer contention tests for the versioned merge table's
optimistic-concurrency commit protocol: commit N exists iff its
manifest's no-replace rename won, so two concurrent committers must
both land (no silently-clobbered manifest), and a crashed writer
must block nobody."""

from __future__ import annotations

import os
import threading
import time
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from engagement_data_pipeline_spark.streaming import ingest as ing


def _batch(spark, keys, val):
    return spark.createDataFrame(
        [(k, val) for k in keys], "origin string, payload string")


def _seed(spark, path, keys=("a", "b", "c"), n_buckets=4):
    merge = ing.foreach_batch_upsert(path, ["origin"], n_buckets=n_buckets)
    merge(_batch(spark, keys, "seed"), 0)
    return merge


def _run_threads(fns):
    errs = []

    def _wrap(fn):
        try:
            fn()
        except Exception as e:  # surface into the test thread
            errs.append(e)

    ts = [threading.Thread(target=_wrap, args=(f,)) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in ts)
    assert not errs, errs


def test_two_writer_merge_contention(spark, tmp_path):
    """Two concurrent foreachBatch merges (distinct key sets, distinct
    streams): both commits must land — OCC means the loser rebases and
    retries instead of clobbering the winner's manifest."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    m1 = ing.foreach_batch_upsert(path, ["origin"], txn_app_id="s1")
    m2 = ing.foreach_batch_upsert(path, ["origin"], txn_app_id="s2")
    keys1 = [f"k1_{i}" for i in range(20)]
    keys2 = [f"k2_{i}" for i in range(20)]
    _run_threads([
        lambda: m1(_batch(spark, keys1, "w1"), 1),
        lambda: m2(_batch(spark, keys2, "w2"), 1),
    ])
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert all(rows.get(k) == "w1" for k in keys1)
    assert all(rows.get(k) == "w2" for k in keys2)
    assert len(rows) == 3 + 40
    hist = ing.table_history(spark, path).collect()
    # seed + both contended merges: three distinct commits, no loss
    assert [h.commit for h in hist] == [3, 2, 1]
    # txn watermarks of BOTH streams survived the contention
    man = ing.read_table_manifest(spark, path)
    assert man["txn"] == {"s1": 1, "s2": 1}
    # the lost publish removed its manifest temp
    log = tmp_path / "t" / "_log"
    assert not [f for f in os.listdir(log) if ".json.tmp-" in f]


def test_merge_racing_compact(spark, tmp_path):
    """A compaction racing a live merge: both must commit, in either
    order, and every row must survive."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=[f"s{i}" for i in range(30)])
    new_keys = [f"n{i}" for i in range(10)]
    _run_threads([
        lambda: ing.compact_table(spark, path, vacuum=False),
        lambda: merge(_batch(spark, new_keys, "new"), 1),
    ])
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"s{i}" for i in range(30)} | set(new_keys)
    ops = {h.commit: h.op for h in ing.table_history(spark, path).collect()}
    assert sorted(ops) == [1, 2, 3]
    assert sorted(ops[c] for c in (2, 3)) == ["compact", "merge"]


def test_concurrent_deletes_and_merge(spark, tmp_path):
    """Three-way contention: two delete_origins plus one merge, all
    landing as separate commits with the correct final row set."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=[f"s{i}" for i in range(12)])
    _run_threads([
        lambda: ing.delete_origins(
            spark, path, _batch(spark, ["s0", "s1"], "x").select("origin")),
        lambda: ing.delete_origins(
            spark, path, _batch(spark, ["s2", "s3"], "x").select("origin")),
        lambda: merge(_batch(spark, ["zz"], "new"), 1),
    ])
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {f"s{i}" for i in range(4, 12)} | {"zz"}
    hist = ing.table_history(spark, path).collect()
    assert [h.commit for h in hist] == [4, 3, 2, 1]
    assert sorted(h.op for h in hist) == [
        "delete", "delete", "merge", "merge"]


def _merge_past_leftover_claims(spark, tmp_path, plant):
    """Seed a table, `plant(log_dir)` claim files as a table written
    before commits went lease-free may hold, then check the next merge
    commits at once and vacuum removes every claim file."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    log = tmp_path / "t" / "_log"
    plant(log)
    t0 = time.monotonic()
    merge(_batch(spark, ["d"], "late"), 1)
    assert time.monotonic() - t0 < 60
    assert ing.read_table_manifest(spark, path)["commit"] == 2
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert "d" in rows
    ing.vacuum_table(spark, path)
    assert not [n for n in os.listdir(log) if ".claim" in n]


def test_stale_leftover_claim_does_not_block_commits(spark, tmp_path):
    """A crashed writer's claim (old mtime, no manifest) and the
    tombstone of a half-done expiry: the next writer takes commit 2
    without waiting out any lease."""
    def plant(log):
        claim = log / "00000002.claim"
        claim.write_text("dead-writer")
        old = time.time() - 3600
        os.utime(claim, (old, old))
        (log / "00000002.claim.tomb-0123").write_text("dead-writer")

    _merge_past_leftover_claims(spark, tmp_path, plant)


def test_fresh_leftover_claim_does_not_block_commits(spark, tmp_path):
    """A FRESH claim (what a live writer used to hold) no longer makes
    the next writer wait or time out: it commits 2 at once."""
    _merge_past_leftover_claims(
        spark, tmp_path,
        lambda log: (log / "00000002.claim").write_text("busy-writer"))


def test_usurped_writer_aborts_at_publish(spark, tmp_path):
    """A writer whose commit number another writer published first
    raises ConcurrentCommitError at its publish instead of replacing
    the published manifest, and removes its manifest temp."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    man = ing.read_table_manifest(spark, path)
    commit, nb = man["commit"] + 1, man["n_buckets"]
    batch = _batch(spark, ["x"], "late").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], nb))
    vdir = ing._write_version(batch, path, commit, 1, "late0000")
    merge(_batch(spark, ["w"], "winner"), 1)  # publishes `commit`
    published = ing.read_table_manifest(spark, path)
    assert published["commit"] == commit
    with pytest.raises(ing.ConcurrentCommitError):
        ing._commit(spark, path, commit, "late0000", nb, ["origin"],
                    {**man["buckets"], **{r[0]: commit for r in
                                          batch.select(ing.BUCKET_COL)
                                          .distinct().collect()}},
                    vdirs={**ing._vdirs(man), commit: vdir})
    assert ing.read_table_manifest(spark, path) == published
    assert not [n for n in os.listdir(tmp_path / "t" / "_log")
                if ".json.tmp-" in n]


def test_concurrent_clone_single_winner(spark, tmp_path):
    """Two concurrent shallow clones of the same source into the same
    destination: exactly one creates the table."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _seed(spark, src)
    outcomes = []

    def _clone():
        try:
            ing.clone_table(spark, src, dst)
            outcomes.append("ok")
        except ValueError:
            outcomes.append("lost")

    _run_threads([_clone, _clone])
    assert sorted(outcomes) == ["lost", "ok"]
    assert ing.read_table_manifest(spark, dst) is not None


def test_vacuum_cleans_dead_claims(spark, tmp_path):
    """Vacuum sweeps what commits leave in `_log`: every claim file
    (nothing reads them any more, whatever their number) and every
    manifest temp at or below the head. A temp above the head may
    belong to a writer still in flight, so it stays."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    merge(_batch(spark, ["x"], "v2"), 1)
    log = tmp_path / "t" / "_log"
    (log / "00000001.claim").write_text("dead")
    (log / "00000009.claim").write_text("old-table")
    (log / "00000001.json.tmp-dead0000").write_text('{"commit": 1')
    (log / "00000002.json.tmp-lost0000").write_text("{}")
    (log / "00000003.json.tmp-live0000").write_text("{}")
    ing.vacuum_table(spark, path)
    names = set(os.listdir(log))
    assert not {"00000001.claim", "00000009.claim",
                "00000001.json.tmp-dead0000",
                "00000002.json.tmp-lost0000"} & names
    assert "00000003.json.tmp-live0000" in names
    assert ing.read_table_manifest(spark, path)["commit"] == 2


def test_put_if_absent_local_atomicity(spark, tmp_path):
    p = str(tmp_path / "sub" / "claim.txt")
    assert ing.put_if_absent(spark, p, "one") is True
    assert ing.put_if_absent(spark, p, "two") is False
    assert (tmp_path / "sub" / "claim.txt").read_text() == "one"


def test_contended_creation_both_rows_land(spark, tmp_path):
    """No pre-existing table: two writers race table CREATION; one
    creates, the other rebases into a merge — both key sets land."""
    path = str(tmp_path / "t")
    m1 = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4)
    m2 = ing.foreach_batch_upsert(path, ["origin"], n_buckets=4)
    _run_threads([
        lambda: m1(_batch(spark, ["a1", "a2"], "w1"), 0),
        lambda: m2(_batch(spark, ["b1", "b2"], "w2"), 0),
    ])
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a1", "a2", "b1", "b2"}
    assert ing.read_table_manifest(spark, path)["commit"] == 2


# --- text-index delta OCC -------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_concurrent_index_updates_no_lost_delta(spark, tmp_path):
    """Two concurrent update_text_index calls: both deltas commit with
    distinct sequence numbers and the carried stats include BOTH."""
    from engagement_data_pipeline_spark.training.ranking import (
        _delta_seqs, _index_stats, bm25_topk_indexed, build_text_index,
        update_text_index)

    idx = str(tmp_path / "idx")
    build_text_index(_docs(spark, [(1, "alpha beta"), (2, "alpha gamma")]),
                     idx)
    _run_threads([
        lambda: update_text_index(
            spark, idx, new_docs=_docs(spark, [(3, "alpha delta")]),
            removed_docs=None),
        lambda: update_text_index(
            spark, idx, new_docs=_docs(spark, [(4, "alpha epsilon qq")]),
            removed_docs=None),
    ])
    assert _delta_seqs(spark, idx) == [1, 2]
    [st] = _index_stats(spark, idx).collect()
    assert st.n_docs == 4 and st.sum_dl == 2 + 2 + 2 + 3
    top = bm25_topk_indexed(spark, idx, {"q": ["alpha"]}, k=10)
    assert {r.doc_id for r in top.collect()} == {1, 2, 3, 4}
    deltas = tmp_path / "idx" / "deltas"
    assert not [n for n in os.listdir(deltas) if n.startswith(".claim")]
    assert not [n for n in os.listdir(deltas) if n.startswith(".tmp")]


def test_index_update_rechains_after_losing_the_rename(spark, tmp_path,
                                                     monkeypatch):
    """A writer whose delta listing is stale (here both its first
    listing and its pre-rename check) tries a number a rival already
    published: the no-replace rename refuses the non-empty d0001, and
    the writer lists again, re-chains its stats from the rival's delta
    and publishes d0002 — no delta or doc is lost."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha beta")]), idx)
    R.update_text_index(spark, idx,
                        new_docs=_docs(spark, [(2, "alpha gamma")]),
                        removed_docs=None)
    real, stale = R._delta_seqs, [[], []]
    monkeypatch.setattr(R, "_delta_seqs", lambda spark_, path: (
        stale.pop() if stale else real(spark_, path)))
    seq = R.update_text_index(
        spark, idx, new_docs=_docs(spark, [(3, "alpha delta qq")]),
        removed_docs=None)
    monkeypatch.undo()
    assert seq == 2 and R._delta_seqs(spark, idx) == [1, 2]
    [st] = R._index_stats(spark, idx).collect()
    assert st.n_docs == 3 and st.sum_dl == 2 + 2 + 3
    assert not [n for n in os.listdir(tmp_path / "idx" / "deltas")
                if n.startswith(".tmp")]


def test_index_update_rechains_after_a_compaction_frees_its_number(
        spark, tmp_path, monkeypatch):
    """A writer chains its stats from d0001 and, before its rename, a
    rival publishes d0002 and a compaction folds both and deletes
    them, so d0002 is free again. The writer's pre-rename listing
    differs from the one it chained from: it re-chains from the new
    base and publishes d0001, and the stats count every doc."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha beta")]), idx)
    R.update_text_index(spark, idx,
                        new_docs=_docs(spark, [(2, "alpha gamma")]),
                        removed_docs=None)
    real_stats, hit = R._write_stats, []

    def rival_then_compact(spark_, path, *a):
        if not hit:
            hit.append(path)
            R.update_text_index(
                spark, idx, new_docs=_docs(spark, [(3, "alpha delta")]),
                removed_docs=None)
            R.compact_text_index(spark, idx)
            assert R._delta_seqs(spark, idx) == []
        return real_stats(spark_, path, *a)

    monkeypatch.setattr(R, "_write_stats", rival_then_compact)
    seq = R.update_text_index(
        spark, idx, new_docs=_docs(spark, [(4, "alpha epsilon qq")]),
        removed_docs=None)
    monkeypatch.undo()
    assert seq == 1 and R._delta_seqs(spark, idx) == [1]
    [st] = R._index_stats(spark, idx).collect()
    assert st.n_docs == 4 and st.sum_dl == 2 + 2 + 2 + 3
    top = R.bm25_topk_indexed(spark, idx, {"q": ["alpha"]}, k=10)
    assert {r.doc_id for r in top.collect()} == {1, 2, 3, 4}


def test_partial_delta_stage_invisible(spark, tmp_path):
    """A crashed writer's staged .tmp segment is invisible to readers
    and to sequence allocation."""
    from engagement_data_pipeline_spark.training.ranking import (
        _delta_seqs, bm25_topk_indexed, build_text_index,
        update_text_index)

    idx = str(tmp_path / "idx")
    build_text_index(_docs(spark, [(1, "alpha beta")]), idx)
    stage = tmp_path / "idx" / "deltas" / ".tmp-deadbeef"
    stage.mkdir(parents=True)
    (stage / "junk").write_text("partial")
    assert _delta_seqs(spark, idx) == []
    seq = update_text_index(
        spark, idx, new_docs=_docs(spark, [(2, "alpha")]),
        removed_docs=None)
    assert seq == 1
    top = bm25_topk_indexed(spark, idx, {"q": ["alpha"]}, k=10)
    assert {r.doc_id for r in top.collect()} == {1, 2}


def test_randomized_three_writer_interleaving(spark, tmp_path):
    """Three writers with DISJOINT key namespaces run seeded random
    op sequences (merge/delete) while a fourth repeatedly compacts:
    whatever the interleaving, the final table must equal the union
    of each writer's sequential result, and the commit log must hold
    every op exactly once (creation + 9 writer ops + 2 compacts)."""
    import random

    path = str(tmp_path / "t")
    _seed(spark, path, keys=["seed0"])

    def writer(ns: str, seed: int):
        rng = random.Random(seed)
        live: set[str] = set()

        def _ops():
            for step in range(3):
                if step == 1 and live and rng.random() < 0.8:
                    victims = sorted(rng.sample(sorted(live),
                                                max(1, len(live) // 2)))
                    ing.delete_origins(
                        spark, path,
                        _batch(spark, victims, "x").select("origin"))
                    live.difference_update(victims)
                else:
                    keys = [f"{ns}_{step}_{i}" for i in range(8)]
                    merge = ing.foreach_batch_upsert(path, ["origin"])
                    merge(_batch(spark, keys, ns), step)
                    live.update(keys)
        return _ops, live

    ops1, live1 = writer("a", 101)
    ops2, live2 = writer("b", 202)
    ops3, live3 = writer("c", 303)
    compacts = lambda: [ing.compact_table(spark, path, vacuum=False)
                        for _ in range(2)]
    _run_threads([ops1, ops2, ops3, compacts])

    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"seed0"} | live1 | live2 | live3
    hist = ing.table_history(spark, path).collect()
    assert len(hist) == 1 + 9 + 2
    assert [h.commit for h in hist] == list(range(12, 0, -1))
    assert sorted(h.op for h in hist).count("compact") == 2


def test_put_if_absent_many_threads_single_winner(spark, tmp_path):
    """16 threads race one claim path: exactly one create wins (the
    O_EXCL arbiter), and the file holds the winner's payload."""
    p = str(tmp_path / "race.claim")
    wins = []

    def contender(i):
        def _go():
            if ing.put_if_absent(spark, p, f"w{i}"):
                wins.append(i)
        return _go

    _run_threads([contender(i) for i in range(16)])
    assert len(wins) == 1
    assert (tmp_path / "race.claim").read_text() == f"w{wins[0]}"


def test_failed_index_update_cleans_staged_tmp(spark, tmp_path, monkeypatch):
    """A delta publish that fails for a reason other than a lost race
    (an IO fault) raises that fault, publishes nothing, and removes
    the writer's staged .tmp segment instead of leaving debris for
    compaction."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha beta")]), idx)

    def fault(*a, **kw):
        raise OSError("disk quota exceeded")

    monkeypatch.setattr(ing, "_rename_path", fault)
    with pytest.raises(OSError, match="quota"):
        R.update_text_index(spark, idx,
                            new_docs=_docs(spark, [(2, "gamma")]),
                            removed_docs=None)
    assert os.listdir(tmp_path / "idx" / "deltas") == []


def test_crash_after_data_write_before_publish(spark, tmp_path):
    """Crash matrix, the remaining window: a writer reads head N-1,
    writes its v<N> data and a torn manifest temp, and dies BEFORE its
    rename. Readers still see commit N-1 (the ghost rows are
    invisible); the next merge commits N at once — no lease to wait
    out — and vacuum reclaims both pieces of debris."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a", "b"])

    # simulate the crashed writer: data + torn temp, never renamed
    man = ing.read_table_manifest(spark, path)
    commit = man["commit"] + 1
    dead = _batch(spark, ["ghost1", "ghost2"], "dead").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], man["n_buckets"]))
    ghost_dir = ing._write_version(dead, path, commit, 2, "dead0000")
    temp = tmp_path / "t" / "_log" / f"{commit:08d}.json.tmp-dead0000"
    temp.write_text('{"commit": 2, "n_buckets": 4, "ori')

    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "b"}

    t0 = time.monotonic()
    merge(_batch(spark, ["c"], "live"), 1)
    assert time.monotonic() - t0 < 60
    assert ing.read_table_manifest(spark, path)["commit"] == commit
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "seed", "b": "seed", "c": "live"}

    ing.vacuum_table(spark, path, keep_manifests=1)
    assert not (tmp_path / "t" / ghost_dir).exists()
    assert not temp.exists()
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "seed", "b": "seed", "c": "live"}


def test_two_real_streams_one_table(spark, tmp_path):
    """TWO live Structured Streaming queries (separate landing dirs
    and checkpoints, distinct txn app ids) merge into ONE table
    concurrently — the production shape of the contention the claim
    protocol arbitrates. Both streams' rows land, both watermarks
    survive, and the table equals the union."""
    import pandas as pd

    from engagement_data_pipeline_spark.streaming.ingest import (
        stream_csv_source)

    table = str(tmp_path / "table")
    queries = []
    for s, keys in (("s1", range(0, 40)), ("s2", range(40, 80))):
        landing = tmp_path / f"landing_{s}"
        landing.mkdir()
        for part in (0, 1):  # two files -> two micro-batches each
            rows = [(f"{k}", f"msg {k}", "2024-01-01 00:00:00")
                    for k in keys if k % 2 == part]
            pd.DataFrame(rows, columns=[
                "Sender", "Message", "ReceivedOn"]).to_csv(
                landing / f"{part}.csv", index=False)
        src = stream_csv_source(spark, str(landing),
                                max_files_per_trigger=1)
        merge = ing.foreach_batch_upsert(
            table, ["origin"], n_buckets=4, txn_app_id=s,
            transform=lambda b: b.select(
                F.col("Sender").alias("origin"),
                F.col("Message").alias("text")))
        queries.append(
            src.writeStream.foreachBatch(merge)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{s}"))
            .trigger(availableNow=True).start())
    for q in queries:
        q.awaitTermination(300)
    rows = {r.origin for r in ing.read_merged_table(spark, table).collect()}
    assert rows == {str(k) for k in range(80)}
    man = ing.read_table_manifest(spark, table)
    assert set(man["txn"]) == {"s1", "s2"}
    hist = ing.table_history(spark, table).collect()
    assert len(hist) == 4  # two micro-batches per stream, none lost


def test_torn_trailing_manifest_is_never_replaced(spark, tmp_path,
                                                  monkeypatch):
    """A partial manifest at N+1 (a store without atomic rename tore
    it) is invisible to readers. A publish never replaces an existing
    manifest, debris included: the next writer loses its rename at
    N+1 and, seeing that the head did not move, raises a clear error
    at once (no rebase rounds), leaving the debris, the readable prior
    commit and no manifest temp behind."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a"])
    torn = tmp_path / "t" / "_log" / "00000002.json"
    torn.write_text('{"trunc')
    # readers: highest PARSEABLE manifest wins
    assert ing.read_table_manifest(spark, path)["commit"] == 1
    rounds = []
    real_commit = ing._commit
    monkeypatch.setattr(ing, "_commit", lambda *a, **kw: (
        rounds.append(a[2]), real_commit(*a, **kw))[1])
    with pytest.raises(RuntimeError, match="00000002.json exists but "
                                           "cannot be parsed"):
        merge(_batch(spark, ["b"], "v2"), 1)
    monkeypatch.undo()
    assert rounds == [2]
    assert torn.read_text() == '{"trunc'
    assert ing.read_table_manifest(spark, path)["commit"] == 1
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a"}
    assert not [n for n in os.listdir(tmp_path / "t" / "_log")
                if ".json.tmp-" in n]


# --- round-7 hardening: single-winner expiry, writer-unique vdirs ---------

class _Clock:
    """Stands in for `ingest.time`: `time()` returns `now`, which the
    test sets; every other attribute is the real `time` module. Claim
    staleness compares `time()` with the claim file's real mtime, so
    a frozen clock keeps every claim made during the test fresh
    however the scheduler delays a thread."""

    def __init__(self, now: float):
        self.now = now

    def time(self) -> float:
        return self.now

    def __getattr__(self, name):
        return getattr(time, name)


def _dead_claim(tmp_path, monkeypatch) -> tuple[str, _Clock]:
    """A claim left by a crashed writer an hour ago, a 5 s lease, and
    a clock the test controls."""
    claim_path = str(tmp_path / "00000007.claim")
    with open(claim_path, "w") as f:
        f.write("dead-writer")
    clock = _Clock(time.time())
    old = clock.now - 3600
    os.utime(claim_path, (old, old))
    monkeypatch.setattr(ing, "CLAIM_STALE_S", 5.0)
    monkeypatch.setattr(ing, "time", clock)
    return claim_path, clock


def test_concurrent_usurpers_single_winner(spark, tmp_path, monkeypatch):
    """Two (here: eight) concurrent usurpers of ONE stale claim — the
    delete-then-create TOCTOU from the r6 review: B's delete could
    remove A's freshly created claim, leaving both holding the same
    commit number. Tombstone-rename expiry admits exactly one winner,
    and the surviving claim file records that winner's id. The clock
    stands still, so no thread, however late, outlives the lease of
    the winner's claim (see the test below for one that does)."""
    claim_path, _clock = _dead_claim(tmp_path, monkeypatch)

    winners = []
    lock = threading.Lock()

    def _usurp():
        c = ing.try_claim(spark, claim_path)
        if c is not None:
            with lock:
                winners.append(c)

    _run_threads([_usurp] * 8)
    assert len(winners) == 1
    with open(claim_path) as f:
        assert f.read().strip() == winners[0].writer_id
    # no tombstone debris left behind by the losers
    assert [n for n in os.listdir(tmp_path) if ".tomb-" in n] == []


def test_usurper_past_the_lease_expires_the_winner(spark, tmp_path,
                                                   monkeypatch):
    """Why the test above controls the clock: a usurper that runs more
    than CLAIM_STALE_S after the winner claimed sees the winner's
    claim as stale and expires it, by design. Under real time and a
    loaded host, a late thread of the 8-thread race did exactly that,
    so the race saw 2 winners. The expired winner is not a second
    holder: it aborts at `verify()` before publishing."""
    claim_path, clock = _dead_claim(tmp_path, monkeypatch)

    winner = ing.try_claim(spark, claim_path)
    assert winner is not None
    clock.now += ing.CLAIM_STALE_S + 1
    late = ing.try_claim(spark, claim_path)
    assert late is not None and late.writer_id != winner.writer_id
    with open(claim_path) as f:
        assert f.read().strip() == late.writer_id
    with pytest.raises(ing.ConcurrentCommitError):
        winner.verify()
    late.verify()
    assert [n for n in os.listdir(tmp_path) if ".tomb-" in n] == []


def test_double_holder_cannot_clobber_published_data(spark, tmp_path,
                                                     monkeypatch):
    """Two writers publish the same commit number N: the no-replace
    rename admits the one that gets there first. Here the rival lands
    after the loser's last head check, right before its rename: the
    loser's rename fails, it raises ConcurrentCommitError inside
    `_retry_commit`, rebases on N and lands at N+1; its round-N
    directory is unreferenced debris that vacuum removes."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a"])
    real_rename = ing._rename_path
    lost = []

    def rival_first(spark_, src, dst):
        if ".json.tmp-" in src and not lost:
            commit, writer = src.rsplit("/", 1)[1].split(".json.tmp-")
            lost.append((int(commit), writer))
            # a rival that read the same head publishes N first
            merge(_batch(spark, ["w"], "winner"), 1)
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(ing, "_rename_path", rival_first)
    loser = ing.foreach_batch_upsert(path, ["origin"])
    loser(_batch(spark, ["x", "y", "z"], "loser"), 1)
    monkeypatch.undo()

    [(commit, writer)] = lost
    assert commit == 2
    hist = ing.table_history(spark, path).collect()
    assert [h.commit for h in hist] == [3, 2, 1]
    won = ing._manifest_at(spark, path, 2)
    debris = tmp_path / "t" / f"v00000002-{writer}"
    assert debris.exists()
    assert f"v00000002-{writer}" not in ing._vdirs(won).values()
    expect = {"a": "seed", "w": "winner",
              "x": "loser", "y": "loser", "z": "loser"}
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == expect

    ing.vacuum_table(spark, path, keep_manifests=1)
    assert not debris.exists()
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == expect


def test_swept_manifest_temp_is_a_lost_race(spark, tmp_path, monkeypatch):
    """A manifest temp that vanishes before its rename (a vacuum swept
    it) while no manifest exists at N is a lost race, not a torn
    manifest: the writer rebases and lands, at N, on the next round."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a"])
    real_rename = ing._rename_path
    swept = []

    def sweep_first(spark_, src, dst):
        if ".json.tmp-" in src and not swept:
            swept.append(src)
            os.unlink(ing._local_path(src))
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(ing, "_rename_path", sweep_first)
    merge(_batch(spark, ["b"], "v2"), 1)
    monkeypatch.undo()

    assert len(swept) == 1
    assert ing._list_commit_ids(spark, path) == [1, 2]
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "b"}


def test_slow_writer_never_lands_on_a_vacuumed_number(spark, tmp_path,
                                                      monkeypatch):
    """A writer reads head H and spends its data write while rivals
    publish H+1 and H+2 and a vacuum keeping one manifest prunes
    _log/H+1.json. The free H+1 must not take the writer's manifest:
    its head re-check before the rename sees H+2, so it rebases and
    lands at H+3 with its rows visible."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a"])
    rivals = [ing.foreach_batch_upsert(path, ["origin"], txn_app_id=f"r{i}")
              for i in range(2)]
    real_commit = ing._commit
    rounds = []

    def rivals_then_vacuum(spark_, table, commit, *a, **kw):
        rounds.append(commit)
        if len(rounds) == 1:
            monkeypatch.setattr(ing, "_commit", real_commit)
            for i, rival in enumerate(rivals):
                rival(_batch(spark, [f"r{i}"], "rival"), 0)
            ing.vacuum_table(spark, path, keep_manifests=1)
            assert ing._list_commit_ids(spark, path) == [commit + 1]
        return real_commit(spark_, table, commit, *a, **kw)

    monkeypatch.setattr(ing, "_commit", rivals_then_vacuum)
    slow = ing.foreach_batch_upsert(path, ["origin"], txn_app_id="slow")
    slow(_batch(spark, ["s"], "slow"), 0)
    monkeypatch.undo()

    assert rounds == [2]
    assert ing._list_commit_ids(spark, path) == [3, 4]
    man = ing.read_table_manifest(spark, path)
    assert man["commit"] == 4 and man["txn"]["slow"] == 0
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "seed", "r0": "rival", "r1": "rival",
                    "s": "slow"}
    assert not [n for n in os.listdir(tmp_path / "t" / "_log")
                if ".json.tmp-" in n]


def _interleave(monkeypatch, op, before):
    """Run `before()` once, inside the first `_commit` of kind `op`,
    ahead of that commit's own publish."""
    real_commit = ing._commit
    hit = []

    def wrapped(*a, **kw):
        if kw.get("op", "merge") == op and not hit:
            hit.append(a[2])
            before()
        return real_commit(*a, **kw)

    monkeypatch.setattr(ing, "_commit", wrapped)
    return hit


def test_first_merge_beats_a_clone_to_an_empty_destination(
        spark, tmp_path, monkeypatch):
    """A first merge that creates the destination between the clone's
    emptiness check and its publish: the merge publishes commit 1 and
    the clone, which would publish at the source's head (3), raises
    ValueError instead. The log stays dense and the merged rows stay
    visible."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    seed = _seed(spark, src)
    seed(_batch(spark, ["d"], "two"), 1)
    seed(_batch(spark, ["e"], "three"), 2)
    first = ing.foreach_batch_upsert(dst, ["origin"])
    hit = _interleave(monkeypatch, "clone",
                      lambda: first(_batch(spark, ["m"], "merged"), 0))
    with pytest.raises(ValueError, match="already exists"):
        ing.clone_table(spark, src, dst)
    monkeypatch.undo()
    assert hit == [3]
    assert ing._list_commit_ids(spark, dst) == [1]
    rows = {r.origin for r in ing.read_merged_table(spark, dst).collect()}
    assert rows == {"m"}


def test_clone_beats_a_first_merge_to_an_empty_destination(
        spark, tmp_path, monkeypatch):
    """A clone that lands while a first merge into the same empty
    destination is writing: the merge's head re-check sees the clone
    at the source's head (3), so it rebases onto the clone and lands
    at 4. The log holds 3 and 4 and no row is lost."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    seed = _seed(spark, src)
    seed(_batch(spark, ["d"], "two"), 1)
    seed(_batch(spark, ["e"], "three"), 2)
    hit = _interleave(monkeypatch, "merge",
                      lambda: ing.clone_table(spark, src, dst))
    first = ing.foreach_batch_upsert(dst, ["origin"])
    first(_batch(spark, ["m"], "merged"), 0)
    monkeypatch.undo()
    assert hit == [1]
    assert ing._list_commit_ids(spark, dst) == [3, 4]
    rows = {r.origin for r in ing.read_merged_table(spark, dst).collect()}
    assert rows == {"a", "b", "c", "d", "e", "m"}


def test_vacuum_spares_inflight_version_dirs(spark, tmp_path):
    """vacuum racing an in-flight writer: a version directory numbered
    past the latest commit may be an unpublished write in progress —
    vacuum must leave it alone, and the writer's subsequent publish
    must read back intact."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a"])
    man = ing.read_table_manifest(spark, path)
    commit, nb = man["commit"] + 1, man["n_buckets"]
    batch = _batch(spark, ["n"], "new").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], nb))
    vdir = ing._write_version(batch, path, commit, 1, "inflight")

    ing.vacuum_table(spark, path, keep_manifests=1)  # concurrent vacuum
    assert (tmp_path / "t" / vdir).exists()

    ing._commit(spark, path, commit, "inflight", nb, ["origin"],
                {**man["buckets"], **{r[0]: commit for r in
                                      batch.select(ing.BUCKET_COL)
                                      .distinct().collect()}},
                vdirs={**ing._vdirs(man), commit: vdir})
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "n"}


def test_put_if_absent_surfaces_transient_errors(spark, monkeypatch):
    """A transient IO error from fs.create must RAISE, not read as
    'claim already held' (which would pass every transient fault off
    as contention); only AlreadyExists means contention."""
    class _FakePath:
        def __init__(self, *a):
            pass

    class _FakeFS:
        def create(self, p, overwrite):
            raise RuntimeError("connection reset by peer")

    monkeypatch.setattr(ing, "_fs", lambda spark, p: (_FakeFS(), type(
        "J", (), {"org": type("O", (), {"apache": type("A", (), {
            "hadoop": type("H", (), {"fs": type("F", (), {
                "Path": _FakePath})})})})})))
    with pytest.raises(RuntimeError, match="connection reset"):
        ing.put_if_absent(spark, "mock://bucket/t/_log/00000001.claim", "w")


class _FakeHadoop:
    """Stands in for `ingest._fs`'s (FileSystem, jvm) pair on a remote
    scheme: files live in a dict, and every FileContext rename raises
    `rename_error`."""

    def __init__(self, rename_error, existing=None):
        self.files = dict(existing or {})
        fake = self

        class Path:
            def __init__(self, p):
                self.p = p

            def toUri(self):
                return self.p

        class Out:
            def __init__(self, p):
                self.p = p

            def write(self, b):
                fake.files[self.p] = bytes(b).decode()

            def close(self):
                pass

        class FileContext:
            def rename(self, src, dst, opt):
                raise rename_error

        self.jvm = SimpleNamespace(org=SimpleNamespace(
            apache=SimpleNamespace(
                hadoop=SimpleNamespace(fs=SimpleNamespace(
                    Path=Path,
                    FileContext=SimpleNamespace(
                        getFileContext=lambda uri, conf: FileContext()),
                    Options=SimpleNamespace(
                        Rename=SimpleNamespace(NONE="NONE")))),
                commons=SimpleNamespace(io=SimpleNamespace(
                    IOUtils=SimpleNamespace(
                        toString=lambda stream, enc: stream.text))))))
        self.out = Out

    def create(self, p, overwrite):
        return self.out(p.p)

    def open(self, p):
        if p.p not in self.files:
            raise FileNotFoundError(p.p)
        return SimpleNamespace(text=self.files[p.p], close=lambda: None)

    def exists(self, p):
        return p.p in self.files

    def delete(self, p, recursive):
        return self.files.pop(p.p, None) is not None


def test_publish_surfaces_transient_rename_errors(spark, monkeypatch):
    """On a remote store, a manifest rename that fails while the target
    does not exist is an IO fault, not a lost race: it raises as is,
    instead of rebasing in silence up to MAX_COMMIT_RETRIES times.
    Only a target that exists after the failed rename means another
    writer won: ConcurrentCommitError, and the temp is removed."""
    root = "mock://bucket/t"
    final = f"{root}/_log/00000001.json"
    args = (spark, root, 1, "w0000000", 4, ["origin"], {0: 1})
    rival = ('{"commit": 1, "n_buckets": 4, "origin": ["origin"], '
             '"buckets": {"0": 1}}')

    io = _FakeHadoop(RuntimeError("connection reset by peer"))
    monkeypatch.setattr(ing, "_fs", lambda spark_, p: (io, io.jvm))
    with pytest.raises(RuntimeError, match="connection reset"):
        ing._commit(*args)
    assert final not in io.files

    # the rival publishes after the head re-check, before the rename
    lost = _FakeHadoop(RuntimeError("FileAlreadyExistsException: x"))
    real_read = ing.read_table_manifest

    def head_then_rival(spark_, table):
        head = real_read(spark_, table)
        lost.files[final] = rival
        return head

    monkeypatch.setattr(ing, "read_table_manifest", head_then_rival)
    monkeypatch.setattr(ing, "_fs", lambda spark_, p: (lost, lost.jvm))
    with pytest.raises(ing.ConcurrentCommitError):
        ing._commit(*args)
    assert lost.files == {final: rival}


def test_racing_merges_publish_dense_commits_exactly_once(spark, tmp_path):
    """Six threads (more than the session's cores) race two merges
    each onto one table, with a short thread switch interval. The log
    holds dense commit ids 1..13 (a writer publishes N only after it
    read N-1 as the head), and every batch is applied exactly once:
    the txn watermarks record each stream's last batch, and replaying
    every batch afterwards commits nothing."""
    import sys

    path = str(tmp_path / "t")
    _seed(spark, path)
    writers, batches = range(6), range(2)
    merges = [ing.foreach_batch_upsert(path, ["origin"], txn_app_id=f"s{w}")
              for w in writers]

    def keys(w, b):
        return [f"s{w}_{b}_{i}" for i in range(5)]

    def stream(w):
        def _go():
            for b in batches:
                merges[w](_batch(spark, keys(w, b), f"b{b}"), b)
        return _go

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _run_threads([stream(w) for w in writers])
    finally:
        sys.setswitchinterval(interval)
    assert ing._list_commit_ids(spark, path) == list(range(1, 14))
    assert [h.commit for h in ing.table_history(spark, path).collect()] \
        == list(range(13, 0, -1))
    man = ing.read_table_manifest(spark, path)
    assert man["txn"] == {f"s{w}": 1 for w in writers}
    for w in writers:
        for b in batches:
            merges[w](_batch(spark, keys(w, b), "replay"), b)
    assert ing.read_table_manifest(spark, path)["commit"] == 13
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert len(rows) == 3 + 60
    assert all(rows[k] == f"b{b}" for w in writers for b in batches
               for k in keys(w, b))


def test_is_already_exists_classification():
    assert ing._is_already_exists(
        Exception("org.apache.hadoop.fs.FileAlreadyExistsException: x"))
    assert not ing._is_already_exists(Exception("connection reset"))


def test_compaction_spares_concurrent_delta(spark, tmp_path, monkeypatch):
    """The r6 review's lost-delta race: a delta committed after
    compaction snapshots the listing (plus a live writer's fresh
    staged .tmp) must SURVIVE the compaction — only the folded deltas
    are deleted, and the index afterwards serves base + survivor with
    correct cumulative stats."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha beta"),
                                     (2, "alpha gamma")]), idx)
    R.update_text_index(spark, idx,
                        new_docs=_docs(spark, [(3, "alpha delta")]),
                        removed_docs=None)

    # freeze compaction's view to the pre-race listing, then commit a
    # NEW delta "in between" its snapshot and its deletion phase
    real_seqs = R._delta_seqs(spark, idx)
    assert real_seqs == [1]
    orig = R._delta_seqs
    snapshots = []

    def _spy(spark_, path):
        seqs = orig(spark_, path)
        if not snapshots:  # first call = compaction's snapshot
            snapshots.append(list(seqs))
            R.update_text_index(
                spark_, path,
                new_docs=_docs(spark_, [(4, "alpha zeta eta")]),
                removed_docs=None)
            # a live writer's staging dir, fresh mtime: must survive
            stage = tmp_path / "idx" / "deltas" / ".tmp-live"
            stage.mkdir()
            (stage / "part").write_text("staging")
        return seqs

    monkeypatch.setattr(R, "_delta_seqs", _spy)
    R.compact_text_index(spark, idx)
    monkeypatch.setattr(R, "_delta_seqs", orig)

    assert snapshots == [[1]]
    names = set(os.listdir(tmp_path / "idx" / "deltas"))
    assert "d0001" not in names          # folded
    assert "d0002" in names              # committed mid-compaction
    assert ".tmp-live" in names          # fresh staging spared
    [st] = R._index_stats(spark, idx).collect()
    assert st.n_docs == 4 and st.sum_dl == 2 + 2 + 2 + 3
    top = R.bm25_topk_indexed(spark, idx, {"q": ["alpha"]}, k=10)
    assert {r.doc_id for r in top.collect()} == {1, 2, 3, 4}
    # a second, quiescent compaction folds the survivor too
    R.compact_text_index(spark, idx)
    assert R._delta_seqs(spark, idx) == []
    top = R.bm25_topk_indexed(spark, idx, {"q": ["alpha"]}, k=10)
    assert {r.doc_id for r in top.collect()} == {1, 2, 3, 4}


def test_compaction_sweeps_only_stale_tmp(spark, tmp_path):
    """Orphan staging sweep is age-gated: an old .tmp (crashed writer)
    is reclaimed, a fresh one is not. A delta claim left by an index
    written before lease-free deltas is reclaimed too."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha")]), idx)
    deltas = tmp_path / "idx" / "deltas"
    deltas.mkdir(exist_ok=True)
    old_tmp = deltas / ".tmp-crashed"
    old_tmp.mkdir()
    (old_tmp / "part").write_text("junk")
    ago = time.time() - 3600
    os.utime(old_tmp, (ago, ago))
    fresh_tmp = deltas / ".tmp-live"
    fresh_tmp.mkdir()
    (deltas / ".claim-d0001").write_text("holder")
    R.compact_text_index(spark, idx)
    names = set(os.listdir(deltas))
    assert ".tmp-crashed" not in names
    assert ".tmp-live" in names
    assert ".claim-d0001" not in names


def test_dv_delete_races_merge(spark, tmp_path):
    """A dv delete racing a concurrent merge (disjoint key sets): OCC
    serializes them in either order, and since the sets are disjoint
    the outcome is order-independent — both effects must land."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=[f"old{i}" for i in range(8)])
    merge = ing.foreach_batch_upsert(path, ["origin"], txn_app_id="s1")
    dead = spark.createDataFrame([("old1",), ("old5",)], "origin string")

    _run_threads([
        lambda: merge(_batch(spark, [f"new{i}" for i in range(8)], "w"), 1),
        lambda: ing.delete_origins(spark, path, dead, strategy="dv"),
    ])
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == ({f"old{i}" for i in range(8)} - {"old1", "old5"}
                    | {f"new{i}" for i in range(8)})
    hist = [r.op for r in ing.table_history(spark, path).collect()]
    assert sorted(hist) == ["delete", "merge", "merge"]


def test_contested_compaction_raises_and_maybe_compact_skips(
        spark, tmp_path, monkeypatch):
    """A compaction that loses every commit race raises
    CommitUsurpedError and commits nothing; `maybe_compact`, which runs
    after refreshes whose own commit has landed, skips it instead."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    head = ing.read_table_manifest(spark, path)["commit"]

    def lose(*a, **kw):
        raise ing.ConcurrentCommitError("another writer took the commit")

    monkeypatch.setattr(ing, "MAX_COMMIT_RETRIES", 2)
    monkeypatch.setattr(ing, "_commit", lose)
    with pytest.raises(ing.CommitUsurpedError, match="compaction"):
        ing.compact_table(spark, path, vacuum=False)
    assert ing.maybe_compact(spark, path, max_merges_since_compact=0,
                             vacuum=False) is False
    monkeypatch.undo()
    assert ing.read_table_manifest(spark, path)["commit"] == head
    assert ing.maybe_compact(spark, path, max_merges_since_compact=0,
                             vacuum=False) is True
