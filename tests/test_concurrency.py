"""Multi-writer contention tests for the versioned merge table's
optimistic-concurrency commit protocol: two concurrent committers
must both land (no silently-clobbered manifest), crashed writers'
claims must lease-expire, and a held claim must block politely."""

from __future__ import annotations

import os
import threading
import time

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
    # no leftover claims once both publishes released
    log = tmp_path / "t" / "_log"
    assert not [f for f in os.listdir(log) if f.endswith(".claim")]


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


def test_stale_claim_lease_expires(spark, tmp_path, monkeypatch):
    """A claim left by a crashed writer (old mtime, no manifest) is
    expired after CLAIM_STALE_S and the next writer takes over the
    commit number."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    claim_file = tmp_path / "t" / "_log" / "00000002.claim"
    claim_file.write_text("dead-writer")
    old = time.time() - 3600
    os.utime(claim_file, (old, old))
    monkeypatch.setattr(ing, "CLAIM_STALE_S", 5.0)
    merge(_batch(spark, ["d"], "late"), 1)
    man = ing.read_table_manifest(spark, path)
    assert man["commit"] == 2
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert "d" in rows


def test_live_claim_blocks_until_timeout(spark, tmp_path, monkeypatch):
    """A FRESH claim (live writer) is honored: an acquirer waits and
    eventually times out rather than stealing the commit number."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    (tmp_path / "t" / "_log" / "00000002.claim").write_text("busy-writer")
    monkeypatch.setattr(ing, "CLAIM_ACQUIRE_TIMEOUT_S", 1.0)
    with pytest.raises(TimeoutError):
        merge(_batch(spark, ["d"], "late"), 1)
    # table unchanged
    assert ing.read_table_manifest(spark, path)["commit"] == 1


def test_usurped_writer_aborts_at_publish(spark, tmp_path):
    """verify() before publish: a writer whose claim was rewritten by
    a usurper must raise ConcurrentCommitError, not publish."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    man, commit, claim = ing._acquire_commit(spark, path)
    # lease expiry elsewhere: usurper rewrites the claim file
    (tmp_path / "t" / "_log" / f"{commit:08d}.claim").write_text("usurper")
    with pytest.raises(ing.ConcurrentCommitError):
        claim.verify()
    # release() must NOT delete the usurper's claim
    claim.release()
    assert (tmp_path / "t" / "_log" / f"{commit:08d}.claim").exists()
    os.remove(tmp_path / "t" / "_log" / f"{commit:08d}.claim")


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
    path = str(tmp_path / "t")
    merge = _seed(spark, path)
    merge(_batch(spark, ["x"], "v2"), 1)
    # dead claim at an already-published number; live claim above
    log = tmp_path / "t" / "_log"
    (log / "00000001.claim").write_text("dead")
    (log / "00000009.claim").write_text("maybe-live")
    ing.vacuum_table(spark, path)
    names = set(os.listdir(log))
    assert "00000001.claim" not in names
    assert "00000009.claim" in names


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
    """A claim-timeout abort must remove the writer's staged .tmp
    segment instead of leaving debris for compaction."""
    from engagement_data_pipeline_spark.training import ranking as R

    idx = str(tmp_path / "idx")
    R.build_text_index(_docs(spark, [(1, "alpha beta")]), idx)
    # hold the next delta claim so the updater cannot win it
    (tmp_path / "idx" / "deltas").mkdir()
    (tmp_path / "idx" / "deltas" / ".claim-d0001").write_text("holder")
    monkeypatch.setattr(ing, "CLAIM_ACQUIRE_TIMEOUT_S", 1.0)
    with pytest.raises(TimeoutError):
        R.update_text_index(spark, idx,
                            new_docs=_docs(spark, [(2, "gamma")]),
                            removed_docs=None)
    leftovers = [n for n in os.listdir(tmp_path / "idx" / "deltas")
                 if n.startswith(".tmp")]
    assert leftovers == []


def test_crash_after_data_write_before_publish(spark, tmp_path, monkeypatch):
    """Crash matrix, the remaining window: a writer claims commit N,
    writes v<N> data, and dies BEFORE publishing the manifest.
    Readers must still see commit N-1 (unreferenced data invisible),
    and after the lease expires a new writer takes over number N,
    overwrites the orphan data, and publishes correctly."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a", "b"])

    # simulate the crashed writer: acquire + write data, never publish
    man, commit, claim = ing._acquire_commit(spark, path)
    dead = _batch(spark, ["ghost1", "ghost2"], "dead").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], man["n_buckets"]))
    ing._write_version(dead, path, commit, 2, claim)
    # (claim file left in place, writer "dies" here)

    # reader: prior commit fully intact, ghosts invisible
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "b"}

    # recovery: lease expires, a live writer takes over commit N
    claim_file = tmp_path / "t" / "_log" / f"{commit:08d}.claim"
    old = time.time() - 3600
    os.utime(claim_file, (old, old))
    monkeypatch.setattr(ing, "CLAIM_STALE_S", 5.0)
    merge(_batch(spark, ["c"], "live"), 1)
    man2 = ing.read_table_manifest(spark, path)
    assert man2["commit"] == commit
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    # the usurper's commit holds exactly its own merge — the crashed
    # writer's ghost rows never surface
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


def test_corrupt_trailing_manifest_overwritten(spark, tmp_path):
    """A partial manifest at N+1 (non-atomic store, writer died mid
    rename) is invisible to readers; the next writer claims N+1 and
    its atomic publish REPLACES the debris — the table heals."""
    path = str(tmp_path / "t")
    merge = _seed(spark, path, keys=["a"])
    (tmp_path / "t" / "_log" / "00000002.json").write_text('{"trunc')
    # readers: highest PARSEABLE manifest wins
    assert ing.read_table_manifest(spark, path)["commit"] == 1
    merge(_batch(spark, ["b"], "v2"), 1)
    man = ing.read_table_manifest(spark, path)
    assert man["commit"] == 2 and man.get("op", "merge") == "merge"
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "b"}


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


def test_double_holder_cannot_clobber_published_data(spark, tmp_path):
    """The r6 review's corruption scenario, made impossible by
    writer-unique version directories: even if a lease race left TWO
    writers believing they hold commit N, the loser's late data write
    lands in its OWN directory — the published manifest still reads
    back exactly the winner's bytes, and vacuum reclaims the loser's
    debris."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a"])
    man, commit, claim_w = ing._acquire_commit(spark, path)
    # a phantom second holder of the SAME commit number (simulating a
    # worst-case expiry interleaving the claim protocol itself guards
    # against — this is defense in depth)
    claim_l = ing.CommitClaim(spark, claim_w.path, "loser-0000")

    nb = man["n_buckets"]
    win = _batch(spark, ["w"], "winner").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], nb))
    vdir = ing._write_version(win, path, commit, 1, claim_w)
    claim_w.verify()
    ing._commit(spark, path, commit, nb, ["origin"],
                {**man["buckets"], **{r[0]: commit for r in
                                      win.select(ing.BUCKET_COL)
                                      .distinct().collect()}},
                vdirs={**ing._vdirs(man), commit: vdir})

    # loser writes AFTER the winner published — previously this
    # overwrote v<commit>/ in place and corrupted the live table
    lose = _batch(spark, ["x", "y", "z"], "loser").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], nb))
    vdir_l = ing._write_version(lose, path, commit, 3, claim_l)
    assert vdir_l != vdir
    with pytest.raises(ing.ConcurrentCommitError):
        claim_l.verify()

    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "seed", "w": "winner"}

    # the loser's directory is unreferenced debris: vacuum removes it
    ing.vacuum_table(spark, path, keep_manifests=1)
    assert not (tmp_path / "t" / vdir_l).exists()
    assert (tmp_path / "t" / vdir).exists()
    rows = {r.origin: r.payload
            for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a": "seed", "w": "winner"}


def test_vacuum_spares_inflight_version_dirs(spark, tmp_path):
    """vacuum racing an in-flight writer: a version directory numbered
    past the latest commit may be an unpublished write in progress —
    vacuum must leave it alone, and the writer's subsequent publish
    must read back intact."""
    path = str(tmp_path / "t")
    _seed(spark, path, keys=["a"])
    man, commit, claim = ing._acquire_commit(spark, path)
    nb = man["n_buckets"]
    batch = _batch(spark, ["n"], "new").withColumn(
        ing.BUCKET_COL, ing.origin_bucket(["origin"], nb))
    vdir = ing._write_version(batch, path, commit, 1, claim)

    ing.vacuum_table(spark, path, keep_manifests=1)  # concurrent vacuum
    assert (tmp_path / "t" / vdir).exists()

    claim.verify()
    ing._commit(spark, path, commit, nb, ["origin"],
                {**man["buckets"], **{r[0]: commit for r in
                                      batch.select(ing.BUCKET_COL)
                                      .distinct().collect()}},
                vdirs={**ing._vdirs(man), commit: vdir})
    claim.release()
    rows = {r.origin for r in ing.read_merged_table(spark, path).collect()}
    assert rows == {"a", "n"}


def test_put_if_absent_surfaces_transient_errors(spark, monkeypatch):
    """A transient IO error from fs.create must RAISE, not read as
    'claim already held' (which would silently poll out the whole
    acquire timeout); only AlreadyExists means contention."""
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
    """Orphan staging sweep is age-gated by the claim lease: an old
    .tmp (crashed writer) is reclaimed, a fresh one is not."""
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
    R.compact_text_index(spark, idx)
    names = set(os.listdir(deltas))
    assert ".tmp-crashed" not in names
    assert ".tmp-live" in names


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
