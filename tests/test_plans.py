"""Scale-posture assertions: the plans the engine promises are the plans
Catalyst actually produces (pushdown, pruning, broadcasts, bounded
shuffles). Run at sf0.01 so AQE/broadcast thresholds behave realistically."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.plans import inspect


@pytest.fixture(scope="module")
def sf01():
    return "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark, sf01):
    df = entrymod.queries()["p_projection_filter"](spark, sf01)
    pushed = " ".join(inspect.pushed_filters(df))
    assert "l_shipdate" in pushed and "l_returnflag" in pushed and "l_quantity" in pushed


def test_column_pruning_narrow_read(spark, sf01):
    df = entrymod.queries()["p_projection_filter"](spark, sf01)
    schemas = inspect.read_schemas(df)
    # 11-column lineitem must be read as only the 7 needed columns
    # (2 projected keys + 2 revenue inputs + 3 filter columns)
    assert len(schemas) == 1
    assert schemas[0].count(":") == 7
    assert "l_partkey" not in schemas[0] and "l_suppkey" not in schemas[0]


def test_q1_single_shuffle(spark, sf01):
    """Partial+final hash agg: exactly one exchange, no more."""
    df = entrymod.queries()["q1_pricing_summary"](spark, sf01)
    assert inspect.shuffle_count(df) == 1
    # partial + final hash aggregation (map-side combine before the shuffle);
    # count the numbered operator headers, not tree echoes
    assert inspect.formatted_plan(df).count(") HashAggregate") == 2


def test_country_enrichment_broadcasts(spark, sf01):
    """The nation/supplier dims must broadcast into the indicator join."""
    df = entrymod.queries()["g7_ego_indicators"](spark, sf01)
    assert inspect.has_broadcast_join(df)


def test_dwarf_semi_join_pushes_only_keys(spark, sf01):
    df = entrymod.queries()["j12_dwarf_lineitem"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "LeftSemi" in plan


def test_or_join_avoids_nested_loop(spark, sf01):
    """J7's union-of-equi-joins rewrite must produce hash joins, never a
    BroadcastNestedLoopJoin over the disjunction."""
    df = entrymod.queries()["j7_or_join"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan


def test_year_spine_is_broadcast_not_shuffle(spark, sf01):
    from iconic_data_science_spark import magmap
    from iconic_data_science_spark.operators.profiles import paper_year_spine

    cat = Catalog(spark, sf01)
    df = paper_year_spine(magmap.paper_years(cat), magmap.years_dim(cat))
    assert inspect.has_broadcast_join(df)


def test_flagship_uses_hash_joins_not_cartesian(spark, sf01):
    df = entrymod.queries()["g3_personal_net"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_curated_layout_partition_pruning(spark, sf01, tmp_path):
    """A year-partitioned curated table read with a year predicate must
    prune partitions at the scan (directory skipping), and row-group
    sorting must not change results."""
    from iconic_data_science_spark.sources.sinks import write_curated_parquet
    from pyspark.sql import functions as F

    cat = Catalog(spark, sf01)
    orders = cat.orders.withColumn("o_year", F.year("o_orderdate"))
    path = str(tmp_path / "orders_by_year")
    write_curated_parquet(orders, path, ["o_year"], sort_cols=["o_custkey"])

    back = spark.read.parquet(path).filter(F.col("o_year") == 1995)
    plan = inspect.formatted_plan(back)
    # partition-key predicate appears as PartitionFilters on the scan,
    # not as a post-scan Filter over all partitions
    assert "PartitionFilters" in plan and "o_year" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    want = cat.orders.filter(F.year("o_orderdate") == 1995).count()
    assert back.count() == want


def test_decontaminate_broadcasts_benchmark(spark, sf01):
    """The benchmark shingle side must broadcast — the train corpus is
    never shuffled for the overlap join."""
    df = entrymod.queries()["decontaminate_ngram"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_terms_window_group_limit(spark, sf01):
    """Greatest-n-per-group must get the partial top-k pushdown
    (WindowGroupLimit, Spark 3.5+) so each partition forwards <=k rows
    per doc to the ranking exchange."""
    df = entrymod.queries()["text_top_terms"](spark, sf01)
    assert "WindowGroupLimit" in inspect.formatted_plan(df)


def test_funnel_stage_scans_push_event_type(spark, sf01):
    """Each funnel stage reads only its event_type partition of the scan
    (predicate pushed to parquet). The shipped form checkpoints each
    stage (cross-branch CSE), which hides the scans from the FINAL
    plan — so the pushdown is pinned on the lazy form, which builds the
    identical per-stage plans, and the two forms are pinned
    row-identical."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.events import funnel

    ev = Catalog(spark, sf01).events
    lazy = funnel(ev, checkpoint_stages=False)
    pushed = " ".join(inspect.pushed_filters(lazy))
    assert "event_type" in pushed
    shipped = entrymod.queries()["ev_funnel"](spark, sf01)
    assert sorted(map(tuple, lazy.collect())) == sorted(
        map(tuple, shipped.collect())
    )


def test_bm25_takeordered_and_broadcasts(spark, sf01):
    """BM25 must TakeOrdered the top-k (never a single-partition global
    window over the corpus) and broadcast the df/stats sides."""
    df = entrymod.queries()["text_bm25_topk"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert inspect.has_broadcast_join(df)


def test_pq_topk_broadcasts_codebook_and_dtable(spark, sf01):
    """PQ ADC touches the corpus only via codes; the codebook and the
    query distance table broadcast (no corpus-side SMJ fan-out)."""
    df = entrymod.queries()["ann_pq_topk"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2


def test_semdedup_pair_join_is_cell_scoped(spark, sf01):
    """The pairwise pass must join on the cell key (equi-join), never a
    cartesian/nested-loop over the corpus."""
    df = entrymod.queries()["semdedup_prune"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is a broadcast of a tiny side; the
    # bucket self-join itself must be hash/sort-merge
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_corpus_shuffle_no_global_window(spark, sf01):
    """The enumeration windows partition by pid; the only unpartitioned
    window runs over the P-row counts frame, so no WindowExec gets the
    full corpus in one partition (probe: result stays a permutation —
    plan-level: no Exchange SinglePartition feeding a corpus-sized
    Window)."""
    df = entrymod.queries()["corpus_shuffle"](spark, sf01)
    plan = inspect.formatted_plan(df)
    # the pid-partitioned window must exist; the single-partition
    # exchange (for the counts prefix sum) is fine because its input is
    # the aggregated counts, not the documents scan
    assert "Window" in plan


def test_kmeans_int_update_round_is_join_free(spark, sf01):
    """The Lloyd centroid update must NOT re-join the
    corpus to itself to recover the quantized vectors — the argmin
    expression already reads ``q``, so one scan feeds the groupBy(c_id)
    directly. Pin: zero joins of any kind in the update round's plan,
    and exactly one exchange (the K-row partial→final aggregate)."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.similarity import (
        _DIM,
        _kmeans_int_update_plan,
    )

    emb = spark.read.parquet(f"{sf01}/embeddings.parquet")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * F.lit(1000)).cast("long"),
    )
    e = emb.select(F.col("vec_id").alias("id"), q.alias("q"))
    cents = [(cid, [cid] * _DIM) for cid in range(8)]
    upd = _kmeans_int_update_plan(e, cents, _DIM)
    plan = inspect.formatted_plan(upd)
    assert "Join" not in plan, "centroid update re-joins the corpus"
    assert inspect.shuffle_count(upd) == 1
    # partial + final hash aggregation: the map-side combine means only
    # K×(dim+1) rows cross the one exchange
    assert plan.count(") HashAggregate") == 2


# Exchange-count budgets: the shuffle counts the current plans produce.
# A regression that adds a shuffle to a headline query must fail loudly
# here and be either fixed or consciously re-budgeted. (Iterative
# queries whose output is checkpointed — g4/clusters — show 0: their
# exchanges already ran; the budget still pins that contract.)
EXCHANGE_BUDGET = {
    "g3_personal_net": 6,
    "g1_coauthor_edges": 5,
    "q1_pricing_summary": 1,
    # single-exchange regime (repartition(ego) feeds both aggs) +
    # collect_list-distinct for n_alter_countries (no Expand): pair
    # self-join's 2 + the one ego repartition
    "g7_ego_indicators": 3,
    # array-native verify (candidate pair joins its two shingle
    # arrays, |A∩B| in-row) replaced the exploded posting self-join +
    # three aggregate/join steps: measured 1 shuffle (the candidate
    # distinct; everything else broadcasts at test scale); budget 8
    # admits the all-SMJ shape at scale (bucket join 2 + distinct 1 +
    # two array joins 4 + sizes stay in-row)
    "dedup_minhash_lsh": 8,
    "dedup_ngram_jaccard": 3,
    "dedup_clusters": 0,
    # posexplode -> groupBy(doc,word) -> groupBy(doc) (2 shuffles of
    # the posting table) rewritten as one in-row run-grouping pass over
    # the sorted (word,pos) pairs — doc_id is the input row grain, so the
    # regroup only reassembled rows. 2 Exchange -> 0.
    "text_inverted_index": 0,
    "decontaminate_ngram": 2,
    "text_bm25_topk": 5,
    # signature computed in-row (_lsh_bucket_expr) — the
    # posexplode+plane-join+two-aggregation subtree (2 exchanges per
    # call, triplicated by the three consumers of e) is gone; what
    # remains is the pair join + the pruned-id distinct + the final
    # keep join (measured 2 real + 1 broadcast at sf0.1; 4 admits the
    # all-SMJ scale shape)
    "semdedup_prune": 4,
    "ann_pq_topk": 3,
    # array-native cross-side verify (measured 1; 8 admits the
    # all-SMJ scale shape — see dedup_minhash_lsh)
    "dedup_incremental": 8,
    "profile_conversion": 5,
    "g4_bfs": 0,
    "q9_product_profit": 1,
    # EXISTS/NOT EXISTS as order-level window counts over ONE
    # pair-grain pass — 6 exchanges + 2 SMJs + 3 lineitem scans became
    # the repartition(l_orderkey) + the final per-supplier groupBy
    "q21_waiting_suppliers": 2,
    # KMV = (group,hash) distinct + per-group rank;
    # z-order = map-side arithmetic + ONE per-chunk partial agg;
    # CDC = in-row HOF chunking + ONE chunk_md5 window for n_docs_sharing
    # (the groupBy+join-back form re-evaluated the per-position
    # Horner-hash Generate subtree twice — 2 Exchange + BroadcastExchange
    # -> 1 Exchange, 3.9 -> 1.9 s at sf0.1)
    "ev_kmv_distinct": 2,
    "lh_zorder_stats": 1,
    "lh_hilbert_stats": 1,
    "lh_compaction_plan": 2,  # inventory agg + applyInPandas group
    "text_cdc_chunks": 1,
    # IVFPQ = centroid assign
    # + PQ-code agg + cell-pruned candidate join + topk; curation v3 is
    # the full exact→gates→fuzzy composition (deliberately the most
    # shuffle-heavy pipeline in the catalog); bloom decontamination is
    # the build agg + broadcast probe; KMV overlap is sketch build +
    # pair ranks; bm25 rerank shows 1 because the ≤k_candidates frame
    # is localCheckpointed (its stage-1 exchanges already ran).
    "ann_ivfpq_topk": 6,
    "curation_pipeline_v3": 28,
    "decontaminate_bloom": 4,
    "ev_kmv_overlap": 4,
    "text_bm25_rerank": 1,
    # interval grid join = one (key,cell) equi-join
    # (0 at sf0.01 where AQE broadcasts the small side; 2 allows the
    # sort-merge plan at scale); line dedup = freq agg + reassembly +
    # n_lines join (strike is broadcast); leakage split = pair build is
    # checkpointed, CC ran eagerly -> rep join + bucket; dup spans =
    # freq agg + island window; phash = the band self-join (corpus is
    # a generated fixture); asof = the ONE window shuffle of the fused
    # same-source form.
    "j_interval_overlap": 2,
    "text_line_dedup": 3,
    "text_leakage_safe_split": 2,
    "dedup_dup_spans": 2,
    "mm_phash_neardup": 1,
    "asof_signup_value": 1,
    # weighted sample = the ONE 1-row W_total
    # aggregate (the keep filter itself is map-side); rare bigram =
    # corpus bigram count + per-doc regroup (dictionary probe is a
    # broadcast); html extract is pure per-row expressions — zero.
    "sample_weighted": 1,
    "text_rare_bigram": 2,
    "text_html_extract": 0,
    "decontaminate_semantic": 1,
    "mm_resize_stats": 0,
    "dedup_jaccard_prefix": 6,
    "ann_hard_negatives": 2,
    "decontaminate_bloom_inrow": 3,
    "sample_group_k": 1,
    # mix rates = ONE language-grain
    # aggregate (the stats table is checkpointed, so derived frames add
    # nothing); the sampler's 3 are the tiny rate-table aggregates — the
    # corpus itself filters map-side behind a broadcast; hashed tf-idf =
    # (doc,feature) agg + feature df agg (exchange-reused subtree) +
    # 1-row N + the WindowGroupLimit doc window; topic tags = the ONE
    # (doc,topic) rollup (taxonomy is broadcast); audio frames = zero —
    # the decode inherits scan partitioning.
    "mix_temperature": 1,
    "mix_temperature_sample": 3,
    "text_hashed_tfidf": 5,
    "text_topic_tags": 1,
    "mm_audio_frames": 0,
    # in-doc window dedup is pure in-row HOFs — zero; winsorize is the
    # ONE event_type window shuffle (rank + count + cutoff share it).
    "text_intra_dedup": 0,
    "ev_winsorize": 1,
    # link extraction is pure per-row regexps (zero); web_pagerank
    # shows 0 because the iterative ranks are localCheckpointed — the
    # per-iteration exchanges already ran (same contract as g4/clusters)
    "web_link_graph": 0,
    "web_pagerank": 0,
    # sliding KMV: pane sketches are checkpointed (raw scan + partial
    # ran once); the 6 remaining exchanges all carry ≤k-row sketch
    # grain (fan-out semi-join, window minima, pane counts, final join)
    "ev_kmv_sliding": 6,
    # classifier inference is one in-row fold over a literal weight
    # vector — the zero-shuffle contract IS the operator's point
    "text_classifier_gate": 0,
    # v4 = exact-dedup groupBy + canonical/gate semi-joins + the
    # language-grain aggregates (classifier stage itself adds zero)
    "curation_pipeline_v4": 5,
    # decay = the 1-row reference aggregate + the group rollup (the
    # weighting itself is map-side); video cuts = pure mapInPandas
    "ev_decayed_value": 2,
    "mm_video_cuts": 0,
    # co-occurrence: the ONE (w1,w2) rollup + unigram/total aggregates
    # (pairs built in-row, no positional self-join); resample chain is
    # two mapInPandas passes, zero shuffle
    "text_cooccurrence": 5,
    "mm_audio_resample": 0,
    # vacuum: inventory agg + ledger groupBy + the 1-row current-version
    # max — all metadata grain
    "lh_vacuum_plan": 3,
    # transition matrix: the tiny (from,to) table is checkpointed, so
    # the only visible exchange is its own broadcast-side derivation
    "ev_transition_matrix": 1,
    # containment: shingle arrays checkpointed; visible exchanges are
    # the candidate distinct + verify join (posting/freq derive from
    # the checkpoint)
    "dedup_containment": 2,
    # MAD anomaly: hourly counts checkpointed; the rank windows share
    # one (type)-grain exchange at dimension size
    "ts_anomaly_mad": 1,
    # trainer/kmeans twins: per-epoch/per-round exchanges already ran
    # behind driver-literal state (the k-means tier discipline); the
    # returned frame is a literal / a map-side argmin over checkpoints
    "text_classifier_train": 0,
    "ann_ivf_kmeans_int": 0,
    # v5 keeps v4's shape (dedup groupBy + semi-joins + language aggs);
    # the trained weights enter as a plan literal, adding zero
    "curation_pipeline_v5": 5,
    # targeted salt: plain G3's exchanges on BOTH pair paths (cold plain
    # + hot salted) + the hot-set count — the price of the dual-path
    # skew split; the salted path itself adds no extra exchange class
    "g3_personal_net_salted": 10,
    # threshold sweep: one in-row scoring pass + the ≤|thr|-row rollup
    "text_classifier_eval": 1,
    # banding audit: three audited sub-pipelines (exact join, signature
    # build off the checkpointed arrays, candidate distinct + verify)
    # each contribute their own aggregates; all capped by the shared
    # shingle checkpoint
    "dedup_minhash_eval": 16,
    # span strip: dup-spans' gram-frequency + island exchanges feed the
    # doc-grain span join; excision is in-row over the token array
    "dedup_span_strip": 2,
    # deciles: corpus->histogram partial agg; the global-order window
    # and total agg run over the <=1001-row histogram (the bounded
    # single-partition exchange is the point of the value-bucket form)
    "text_quality_deciles": 4,
    # reweight rounds run on collected domain metadata; the corpus
    # pass's source-grain agg is upstream of the returned literal
    "mix_domain_reweight": 0,
    # normalization is a pure regexp map; langid eval = the doc-grain
    # hit rollup + vote window + the truth join + the (true,pred)
    # rollup (stopwords broadcast)
    "text_normalize": 0,
    "text_langid_eval": 4,
    # upsert: candidate bucket join + pair dedup + the two anti-joins;
    # batch signatures compute map-side off the checkpointed arrays
    "dedup_index_upsert": 4,
    # v6: dedup groupBy + canonical/decile semi-joins + the bounded
    # decile histogram chain + language aggregates (normalize adds 0)
    "curation_pipeline_v6": 9,
    # gate: in-row score behind the 1-row checkpointed cutoff broadcast
    "text_quality_gate": 0,
    # cluster eval: assignment is map-side over literal centroids (its
    # rounds already ran); label join + the two cell-grain rollups
    "ann_cluster_eval": 4,
    # web CC: link edges -> three-tier dedup_clusters; the local
    # union-find tier returns a literal at sf gate size (0 visible);
    # budget covers the edge distinct
    "web_components": 2,
    # global-n: TakeOrderedAndProject, no full exchange; length
    # quantiles = per-source histogram agg + cumulative window +
    # totals agg + the percentile-rollup exchange — all at histogram
    # grain (≤1001 bins × sources) after the one corpus aggregation
    "sample_global_n": 0,
    "text_length_quantiles": 4,
    # gopher rules: pure per-row expressions — zero shuffle is the
    # operator's contract
    "text_gopher_flags": 0,
    # v7: structural stages are semi-joins off the checkpointed
    # survivor frames; visible exchanges are the language aggregates +
    # the gate semi-join (training's per-epoch exchanges already ran
    # behind the literal weights)
    "curation_pipeline_v7": 5,
    # curriculum: decile cutoffs ride the checkpointed
    # ≤1001-row histogram (its own window/total exchanges are
    # histogram-grain), the enumeration is the seeded_shuffle recipe —
    # one corpus range-repartition + the partitions-sized counts/offsets
    # frames; every single-partition exchange in the plan carries
    # bounded rows (histogram or one-row-per-partition counts), never
    # the corpus
    "corpus_curriculum": 9,
    # C4 cleaning is pure in-row expressions over
    # the synthesized page (split/filter/rejoin + page-flag scans): the
    # 100 TB posture is one map pass fused with the scan — zero
    # exchanges, like text_gopher_flags/text_normalize
    "text_c4_line_filter": 0,
    # DSIR selection: the returned frame is scoring (in-row, literal
    # weights) over the checkpointed bigram arrays + a
    # TakeOrderedAndProject — zero exchanges; the bucket histogram's
    # one bounded exchange runs eagerly inside dsir_pipeline before
    # the plan under test exists
    "mix_dsir_select": 0,
    # keep-best: clusters and verdicts ride broadcast joins; the only
    # exchanges are the per-cluster argmax window over the dup SLICE
    # (clusters arrive as a driver-built frame) — the corpus-grain
    # score is a pure map that never reshuffles
    "dedup_keep_best": 3,
    # v8: the returned plan is scoring over the checkpointed bigram
    # arrays + TakeOrdered — the C4 cleaning, the cleaned join, and the
    # weights histogram all ran eagerly (checkpoints + driver literals)
    # before the plan under test exists
    "curation_pipeline_v8": 0,
    # trained PQ: the m training loops ran eagerly (centroids are plan
    # literals); the returned plan is a union of m map-side argmin
    # passes over the scan — zero exchanges
    "ann_pq_trained": 0,
    # trained-PQ serving: codes are m map passes, the query distance
    # table broadcasts — the exchanges are the (query, vector)
    # partial-sum rollup + the per-query ranking window
    "ann_pq_trained_topk": 3,
    # vector ingest audit: pure per-row flags — one map pass
    "ann_embedding_audit": 0,
    # JL retrieval: the projection is a pure map (sign matrix as plan
    # literals); the exchanges are brute_force_topk's corpus spread +
    # the per-query ranking window, now over 4x-narrower vectors
    "ann_rp_topk": 2,
    # UniMax: the language aggregate ran eagerly (waterfill on driver
    # metadata); the returned sample plan is a broadcast join + map
    "mix_unimax_alloc": 0,
    "mix_unimax_sample": 0,
    # span corruption: pure in-row block arithmetic — one map pass
    "text_span_corruption": 0,
    # JL-under-LSH: projection + in-row bucket bits compose with the
    # scan; visible exchanges are the bucket equi-join (broadcast at
    # sf0.01 -> 1; budget 3 admits the sort-merge shape at scale:
    # two sides + the ranking window)
    "ann_rp_lsh_topk": 3,
    # bigram surprisal: ONE corpus-grain LM aggregate (ctx derives from
    # the bigram table via a vocab-grain window, not a second corpus
    # pass), the probe equi-join, the per-doc rollup + AQE reads
    "text_bigram_surprisal": 6,
    # pruned-LM gate: the top-k LM collected eagerly as driver
    # metadata; the RETURNED frame is a pure in-row fold — zero
    # exchanges is the operator's point (streamable)
    "text_surprisal_gate": 0,
    # v9 composition: like v8, every corpus-grain exchange runs eagerly
    # behind checkpoints (cleaned corpus, DSIR bucket arrays) or the
    # driver-literal LM collect — the returned plan is map + TakeOrdered
    "curation_pipeline_v9": 0,
    # MaxSim truth baseline: the doc fold groupBy + the ranking window;
    # the all-pairs join is the nested loop ON PURPOSE (recall anchor)
    "ann_maxsim_topk": 2,
    # MaxSim serving: the token signature is a pure in-row fold (the
    # rp_lsh trick — zero exchanges before the bucket join), so what
    # remains is the bucket self-join + distinct, the candidate joins
    # against the folded docs, and the ranking window (AQE-merged to 4
    # at sf0.01; was 10 with the explode+groupBy signature)
    "ann_maxsim_rerank": 5,
    # CCNet terciles: bigram surprisal's 6 + the lang attach join, the
    # bounded histogram aggregate + its CDF window; the threshold table
    # comes back as a BROADCAST join (no doc-grain sort — pinned below)
    "text_ppl_buckets": 8,
    # URL curation: the stats rollup is one domain-grain aggregate with
    # a two-phase count-distinct riding it; the doc-level gate is a
    # pure in-row parse+filter — zero exchanges (streamable)
    "web_domain_stats": 2,
    "web_url_gate": 0,
    # gap-fill: ONE events-grain exchange (the type x hour rollup);
    # the spine explode, fill windows, and neighbor lookups all run on
    # the bounded type x hour table (its window exchange is the 2nd)
    "ts_gap_fill": 2,
    # URL dedup: in-row canonicalization + exactly one canonical-key
    # aggregate — the exchange carries (key, id) pairs only
    "web_url_dedup": 1,
    # WordPiece encode: the vocab collects eagerly as driver metadata;
    # the RETURNED plan is the greedy double fold as one in-row map —
    # zero exchanges (streamable)
    "text_wordpiece_encode": 0,
    # v10 composition: URL keepers + C4 run eagerly behind the
    # localCheckpoint, the LM collects as driver metadata — the
    # returned gate plan is a pure in-row fold (the v8/v9 discipline)
    "curation_pipeline_v10": 0,
    # WordPiece batch twin: the distinct-word dedup + the ordered
    # join-back rollup — the exchanges the Zipf leverage buys
    "text_wordpiece_batch": 3,
    # SFT chat render: turn synthesis, template fold, loss-mask count
    # — all in-row, zero exchanges (streamable)
    "text_chat_render": 0,
    # FIM: md5 gate + pivots + slices + both renders, all in-row —
    # zero exchanges (streamable)
    "text_fim": 0,
    # DPO assembly: the synth explode is in-row; selection is ONE
    # prompt-grain aggregate riding min/max structs (no window, no
    # join-back)
    "dpo_pairs": 1,
    # Unigram-LM: training collects eagerly as bounded driver metadata
    # (seed top-k + two EM usage aggregates); the RETURNED plans are a
    # local relation (vocab) and a pure in-row Viterbi map (encode)
    "text_unigram_vocab": 0,
    "text_unigram_encode": 0,
    # Unigram batch twin: distinct-word dedup + ordered join-back —
    # the exchanges the Zipf leverage buys (the wordpiece_batch shape)
    "text_unigram_batch": 3,
    # SFT pack: the render is a zero-exchange map; the ONE exchange is
    # the shard window (per-shard prefix sum — shards scale out
    # independently)
    "sft_pack": 1,
    # SQ8 coding: bounds collected eagerly as plan literals; the
    # RETURNED plan is a pure in-row code+recon+err2 map — zero
    # exchanges (the 4x-smaller artifact composes with the scan)
    "ann_sq8_codes": 0,
    # SQ8 serving: code/bucket maps compose with the scan; at sf0.01
    # the code join + bucket join broadcast, leaving the ranking
    # window (measured 1); budget 4 admits the sort-merge shape at
    # scale (code join + two bucket-join sides + window)
    "ann_sq8_topk": 4,
    # BQ funnel: bits/bands are in-row; exchanges are the band
    # equi-join + candidate distinct + two id-grain hydration joins +
    # two per-query windows (AQE-merged to 2 at sf0.01 — hydration
    # joins broadcast); budget 7 admits the all-shuffle shape at scale
    "ann_bq_topk": 7,
    # pass@k: ONE task-grain aggregate (two longs of state); the
    # k-explode and both factorial folds are in-row
    "eval_pass_at_k": 1,
    # EM/F1: synth + multiset overlap + ratios are per-row HOFs —
    # zero exchanges (streamable)
    "eval_em_f1": 0,
    # GRPO: the group moments and the rank ride ONE prompt-grain
    # window partition (the second Window reuses the exchange)
    "rl_group_advantage": 1,
    # arena win rates: the prompt-grain self-join broadcasts at
    # sf0.01 leaving the variant-pair rollup; budget 3 admits the
    # co-partitioned shuffle shape at scale (two sides + rollup)
    "eval_winrate_matrix": 3,
    # judge agreement: ONE doc-grain aggregate; every other exchange
    # is over the <=9-row confusion matrix / 1-row globals (the
    # single-row cross joins show as broadcast nested loops over
    # literal-sized frames — bounded metadata, not corpus)
    "eval_judge_agreement": 9,
    # SQ8 drift audit: bounds train eagerly on the base side (plan
    # literals); the RETURNED plan is a pure in-row code/clamp/
    # telemetry map over the new batch — zero exchanges (streamable,
    # the quantize-at-ingest pin)
    "ann_sq8_drift": 0,
    # k-anonymity audit: the quasi-grain count + exact-distinct pair
    # (distinct adds its two-phase expand exchange); output is the
    # bounded identifier-domain table
    "pii_k_anonymity": 2,
    # release summary: the audit's 2 + the one-row rollup
    "pii_anonymity_summary": 3,
    # t-closeness: record-grain cell aggregate, then the three window
    # marginals + final rollup ride the DOMAIN-BOUNDED cell table
    # (measured 2 at sf0.01 — Spark chains compatible windows); budget
    # 5 admits the fully materialized window chain at scale
    "pii_t_closeness": 5,
    # Unigram fertility: encode + char folds are in-row; the doc-grain
    # join broadcasts at sf0.01 leaving the lang rollup (measured 1);
    # budget 4 admits the sort-merge join shape at scale
    "text_unigram_fertility": 4,
    # WordPiece fertility: identical shape to the unigram twin
    "text_wordpiece_fertility": 4,
    # tri-gate release report: the t-closeness chain (measured 2,
    # budget 5) + the one-row rollup
    "pii_release_report": 6,
}


# Parquet-scan budgets: every scan is a full input pass at scale, so the
# single-pass shapes are pinned like the exchange budgets. The trained-PQ
# queries fuse all m
# subspace assignments into one corpus scan; the PQ/IVF seed tables and
# the g8 edge set are localCheckpointed once (their consumers read the
# materialized table, not the parquet input); multitable LSH computes
# all T signatures in one projection per side.
SCAN_BUDGET = {
    "ann_pq_trained": 1,       # one fused assignment pass
    "ann_pq_trained_topk": 2,  # corpus codes + query distance lattice
    "ann_pq_topk": 2,          # subs explode + query subvectors
    "ann_ivfpq_topk": 4,       # corpus/query x (sqnorm assign, coding)
    "ann_ivf_topk": 4,
    "ann_lsh_multitable": 4,   # corpus/query x (signatures, verify)
    "g8_gexf": 0,              # both branches read the checkpointed edges
    "dedup_minhash_eval": 0,   # everything reads the checkpointed arrays
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGET))
def test_scan_count_within_budget(spark, sf01, name):
    df = entrymod.queries()[name](spark, sf01)
    got = inspect.scan_count(df)
    assert got <= SCAN_BUDGET[name], (
        f"{name}: {got} parquet scans > budget {SCAN_BUDGET[name]} — an input "
        "re-scan crept into this plan; fix it or consciously raise the budget"
    )


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGET))
def test_exchange_count_within_budget(spark, sf01, name):
    df = entrymod.queries()[name](spark, sf01)
    got = inspect.shuffle_count(df)
    assert got <= EXCHANGE_BUDGET[name], (
        f"{name}: {got} exchanges > budget {EXCHANGE_BUDGET[name]} — a shuffle "
        "crept into this plan; fix it or consciously raise the budget"
    )


def test_rp_lsh_is_equi_join_not_nested_loop(spark, sf01):
    """The point of composing JL under the hyperplane generator: the
    candidate join must be a hash/merge EQUI-join
    on the bucket key — never a nested-loop over query x corpus (that
    is `ann_rp_topk`, kept only as the truth baseline)."""
    df = entrymod.queries()["ann_rp_lsh_topk"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # the truth baseline, by contrast, IS the nested loop
    base = entrymod.queries()["ann_rp_topk"](spark, sf01)
    bplan = inspect.formatted_plan(base)
    assert "BroadcastNestedLoopJoin" in bplan or "CartesianProduct" in bplan


def test_maxsim_rerank_is_equi_join_not_nested_loop(spark, sf01):
    """ColBERT serving (ann_maxsim_rerank): every join — token bucket,
    candidate-to-docs — must be an equi-join; the quadratic all-pairs
    shape is reserved for the ann_maxsim_topk truth baseline."""
    df = entrymod.queries()["ann_maxsim_rerank"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    base = entrymod.queries()["ann_maxsim_topk"](spark, sf01)
    bplan = inspect.formatted_plan(base)
    assert "BroadcastNestedLoopJoin" in bplan or "CartesianProduct" in bplan


def test_ppl_buckets_threshold_join_is_broadcast(spark, sf01):
    """The CCNet tercile thresholds (one row per language) must come
    back to the corpus as a broadcast join — a shuffled threshold
    attach would sort doc-grain rows for a lang-grain table."""
    df = entrymod.queries()["text_ppl_buckets"](spark, sf01)
    plan = inspect.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sq8_and_bq_are_equi_joins_not_nested_loop(spark, sf01):
    """The quantized-embedding serving paths (ann_sq8_topk's bucket
    candidates, ann_bq_topk's band pigeonhole) must reach their
    candidates through hash/merge EQUI-joins — the never-nested-loop
    rule that separates a serving plan from a truth baseline."""
    for name in ("ann_sq8_topk", "ann_bq_topk"):
        df = entrymod.queries()[name](spark, sf01)
        plan = inspect.formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, name
