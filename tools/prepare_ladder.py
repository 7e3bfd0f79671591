"""N-tick ladder for the corpus-prepare ingest: split the incremental
batch feed into id-ordered arrival files, run them as successive
`incremental_prepare_tick` calls against accumulating KEYED-APPEND state
(docs + bands + digests + grams in the sinks/layout bucketed layout,
frozen vocabulary — exactly what streaming/merge.incremental_prepare_stream
does per micro-batch), and report per-tick wall, seen-set size, and the
BYTES APPENDED to state that tick, then assert the unioned decisions are
bit-identical to the one-shot tick.

The two readings this produces (r13 verdict asks #1/#2):
- tick wall stays flat while the seen-set grows, because each tick's
  work is batch/candidate-proportional — the corpus enters only through
  PRUNED band/digest/gram state probes and the frozen broadcast
  vocabulary (no corpus-proportional digest shuffle, no corpus
  re-gramming);
- per-tick appended state bytes track the BATCH size, not the state
  size (the old v{k} layout rewrote the full state every tick).

Every 5th tick runs the compaction cadence (sinks/layout.
compact_keyed_state on all four state tables — the dedup merge ladder's
discipline), so the per-partition file count stays cadence-bounded
instead of growing one file per tick per touched bucket; compaction
wall and file counts are reported separately from tick wall.

Usage: python tools/prepare_ladder.py [sf_dir] [n_ticks]
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def tree_bytes(*paths: str) -> int:
    return sum(
        os.path.getsize(f)
        for p in paths
        for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
    )


def main() -> None:
    args = [a for a in sys.argv[1:]]
    # --v3: run the EMISSION-gate tick (holdout + decontamination vs the
    # frozen holdout shingle state) and assert the union against the
    # one-shot v3 tick (r14 verdict ask #2's two-scale evidence)
    v3 = "--v3" in args
    if v3:
        args.remove("--v3")
    # --emit (with --v3): after the decision-equality assertion, run the
    # EMISSION over the accepted sets of both paths — pack assignment +
    # physical pack_emission_write + manifest read-back — and assert the
    # two manifests are identical.  Since decisions are bit-equal, this
    # pins the remaining claim of r14 verdict ask #8: emission is a pure
    # function of (stratum, id order), indifferent to whether ingest was
    # one-shot or 10 ticks (and to physical row order/partitioning).
    emit = "--emit" in args
    if emit:
        args.remove("--emit")
    holdout_mod = 50 if v3 else None
    # --rebuild-at K: after tick K, run the vocabulary REBUILD tick
    # (operators/textual.vocabulary_rebuild) against the accumulated docs
    # state, re-freeze state/vocab, and show the per-tick drift curve
    # collapse (r14 verdict ask #3's ladder evidence).  Decisions after a
    # rebuild are a NEW corpus version by definition, so the final
    # union == one-shot assertion is skipped in this mode.
    rebuild_at = 0
    for a in list(args):
        if a.startswith("--rebuild-at="):
            rebuild_at = int(a.split("=", 1)[1])
            args.remove(a)
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    n_ticks = int(args[1]) if len(args) > 1 else 10

    from pyspark.sql import functions as F

    from mistocksync_spark.operators.dedup import (
        corpus_digest_state,
        corpus_gram_state,
        corpus_signature_state,
    )
    from mistocksync_spark.operators.textual import (
        corpus_vocabulary,
        incremental_prepare_tick,
        vocabulary_drift,
    )
    from mistocksync_spark.plans.feeds import docs_incr_batch, docs_incr_corpus
    from mistocksync_spark.session import get_spark
    from mistocksync_spark.sinks.layout import (
        compact_keyed_state,
        keyed_state_append,
        keyed_state_read,
    )
    from mistocksync_spark.streaming.merge import prepare_tick_against_state

    spark = get_spark("prepare-ladder")
    work = tempfile.mkdtemp(prefix="prep_ladder_")
    state = os.path.join(work, "state")
    p_docs, p_bands = os.path.join(state, "docs"), os.path.join(state, "bands")
    p_dig, p_grams = os.path.join(state, "digests"), os.path.join(state, "grams")
    state_paths = (p_docs, p_bands, p_dig, p_grams)

    corpus = docs_incr_corpus(spark, sf_dir).select("doc_id", "text")
    batch = docs_incr_batch(spark, sf_dir).select("doc_id", "text")
    ids = sorted(r.doc_id for r in batch.select("doc_id").collect())
    cuts = [ids[(len(ids) * i) // n_ticks] for i in range(1, n_ticks)] + [
        ids[-1] + 1
    ]

    keyed_state_append(corpus, p_docs, ["doc_id"], batch_id=-1)
    keyed_state_append(
        corpus_signature_state(corpus), p_bands, ["band", "band_key"], batch_id=-1
    )
    keyed_state_append(corpus_digest_state(corpus), p_dig, ["digest"], batch_id=-1)
    keyed_state_append(corpus_gram_state(corpus), p_grams, ["g"], batch_id=-1)
    corpus_vocabulary(corpus).write.parquet(os.path.join(state, "vocab"))
    vocab = spark.read.parquet(os.path.join(state, "vocab"))
    if v3:
        from mistocksync_spark.operators.dedup import holdout_shingle_state

        holdout_shingle_state(corpus, holdout_mod=holdout_mod).write.parquet(
            os.path.join(state, "holdout_shingles")
        )

    decisions = []
    lo = ids[0]
    seen = corpus.count()
    for k, hi in enumerate(cuts):
        arrivals = (
            batch.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .localCheckpoint(eager=False)
        )
        bytes_before = tree_bytes(*state_paths)
        t0 = time.monotonic()
        # the PRODUCTION tick body (streaming/merge.prepare_tick_against_
        # state): folded bucket fetch, candidate-pruned docs read,
        # before_batch-pinned reads, idempotent batch-id appends — the
        # ladder times exactly what the stream's foreachBatch runs
        prepare_tick_against_state(arrivals, k, state, holdout_mod=holdout_mod)
        wall = time.monotonic() - t0
        appended = tree_bytes(*state_paths) - bytes_before
        n_arr = arrivals.count()
        # vocabulary drift curve (r13 verdict ask #4), measured OUTSIDE
        # the timed tick: the stream's frozen original-corpus vocabulary
        # vs a rebuild over the state this tick's rebuild would see
        docs = keyed_state_read(spark, p_docs, before_batch=k)
        dr = vocabulary_drift(docs, arrivals, frozen_vocab=vocab).collect()[0]
        print(
            f"tick {k + 1:2d}: arrivals={n_arr:5d} seen_set={seen:6d} "
            f"wall={wall:6.2f}s appended={appended / 1e6:7.3f} MB "
            f"state={tree_bytes(*state_paths) / 1e6:8.3f} MB "
            f"vocab_drift={dr.n_disagree}/{dr.n_scored}"
            f" (frozen_rare={dr.n_rare_frozen} rebuilt_rare={dr.n_rare_rebuilt})",
            flush=True,
        )
        seen += n_arr
        decisions.append(spark.read.parquet(os.path.join(state, "decisions", f"b{k}")))
        if rebuild_at and (k + 1) == rebuild_at:
            from mistocksync_spark.operators.textual import vocabulary_rebuild

            tr = time.monotonic()
            # corpus = state BEFORE this tick's append, batch = this
            # tick's arrivals — their union is exactly the grown corpus
            # (no row duplicated into the token-mass aggregate)
            new_vocab, audit = vocabulary_rebuild(
                keyed_state_read(spark, p_docs, before_batch=k),
                arrivals,
                frozen_vocab=vocab,
            )
            a = audit.collect()[0]
            new_vocab.write.mode("overwrite").parquet(
                os.path.join(state, "vocab.rebuilt")
            )
            spark.read.parquet(os.path.join(state, "vocab.rebuilt")).write.mode(
                "overwrite"
            ).parquet(os.path.join(state, "vocab"))
            vocab = spark.read.parquet(os.path.join(state, "vocab"))
            print(
                f"  vocab REBUILD tick: frozen={a.n_frozen} -> "
                f"rebuilt={a.n_rebuilt} (+{a.n_added}/-{a.n_removed}) "
                f"drift_before={a.n_disagree_before}/{a.n_scored} "
                f"after={a.n_disagree_after} wall={time.monotonic() - tr:6.2f}s",
                flush=True,
            )
        if (k + 1) % 5 == 0:
            tc = time.monotonic()
            fb = fa = 0
            for p in state_paths:
                b, a = compact_keyed_state(spark, p)
                fb, fa = fb + b, fa + a
            print(
                f"  compaction tick: files {fb} -> {fa} "
                f"wall={time.monotonic() - tc:6.2f}s",
                flush=True,
            )
        lo = hi

    if rebuild_at:
        print(
            "rebuild mode: union == one-shot assertion skipped by design "
            "(a vocab rebuild starts a new corpus version; the evidence "
            "here is the drift curve collapsing after the rebuild tick)"
        )
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
        sys.exit(0)
    union = decisions[0]
    for d in decisions[1:]:
        union = union.unionByName(d)
    one_shot = incremental_prepare_tick(
        corpus, batch, allow_corpus_derived_state=True, holdout_mod=holdout_mod
    )
    u = {(r.doc_id, r.reason) for r in union.collect()}
    o = {(r.doc_id, r.reason) for r in one_shot.collect()}
    from collections import Counter

    per_reason = Counter(r for _, r in u)
    print(f"per-reason counts: {dict(sorted(per_reason.items()))}")
    print(f"ladder decisions: {len(u)}; one-shot: {len(o)}; identical: {u == o}")
    ok = u == o
    if emit and ok:
        from mistocksync_spark.operators.textual import pack_documents
        from mistocksync_spark.sinks.layout import (
            pack_emission_manifest,
            pack_emission_write,
        )

        def emit_manifest(dec_rows, docs_df, tag):
            # the emission corpus = standing corpus + accepted arrivals
            # (production: the sampling/packing pass runs over the WHOLE
            # kept corpus, not just the latest batch); docs_df is each
            # path's own physical source — the bucketed state files for
            # the ladder, the feed for the one-shot — so manifest
            # equality also pins that packing is a pure function of
            # (stratum, id order), indifferent to row order/partitioning
            rejected = [int(d) for d, r in dec_rows if r != "ok"]
            rej = spark.createDataFrame(
                [(d,) for d in rejected] or spark.sparkContext.emptyRDD(),
                "doc_id long",
            )
            toks = (
                docs_df.join(rej, on="doc_id", how="left_anti")
                .select(
                    "doc_id",
                    F.pmod(F.col("doc_id"), F.lit(8)).cast("int").alias("cluster"),
                    F.size(F.split(F.col("text"), r"\s+")).cast("long").alias(
                        "n_tokens"
                    ),
                )
            )
            packed = pack_documents(
                toks, seq_len=2048, token_count_col="n_tokens",
                stratum_col="cluster", id_col="doc_id",
            ).select(
                "doc_id", F.col("stratum").alias("cluster"),
                F.col("n_tokens"), "pack_id", "pack_offset",
            )
            path = pack_emission_write(packed, os.path.join(work, f"packs_{tag}"))
            return {
                (r.cluster, r.pack_id): (r.n_docs, r.n_tokens, r.file)
                for r in pack_emission_manifest(spark, path).collect()
            }

        t0 = time.monotonic()
        m_ladder = emit_manifest(
            u, keyed_state_read(spark, p_docs), "ladder"
        )
        m_oneshot = emit_manifest(o, corpus.unionByName(batch), "oneshot")
        same = m_ladder == m_oneshot
        print(
            f"pack manifests: ladder={len(m_ladder)} packs, "
            f"one-shot={len(m_oneshot)} packs, identical: {same} "
            f"(emission wall={time.monotonic() - t0:.2f}s)"
        )
        ok = ok and same
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
