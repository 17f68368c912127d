"""Physical-plan shape assertions: the plans the engine promises at
scale (pushdown reaching the scan, broadcasts where intended, a narrow
no-shuffle extraction stage) must be the plans Catalyst actually picks."""

import importlib.util
import os
import re

from planutil import n_exchanges, plan

from documentai_ocr_spark.extract import extract_turns
from documentai_ocr_spark.queries import QUERIES
from documentai_ocr_spark.synth import synth_transcripts

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_region_revenue_broadcasts_dims(spark):
    p = plan(QUERIES["q_region_revenue"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 2  # nation, region


def test_extraction_is_narrow(spark):
    df = extract_turns(
        spark.createDataFrame(synth_transcripts(n_convs=4, seed=1, skew_factor=1))
    )
    p = plan(df)
    assert "Exchange" not in p, "per-turn extraction must not shuffle"
    assert "MapInPandas" in p


def test_anti_join_filter_pushed(spark):
    p = plan(QUERIES["q_anti_missing"](spark, SF))
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority" in p


def test_topn_partial_limit(spark):
    # the rn<=3 predicate runs inside the window exec as a group limit —
    # no fallback clause: a plan without WindowGroupLimit is a full
    # window + post-filter, exactly the at-scale regression to catch
    p = plan(QUERIES["q_topn_per_group"](spark, SF))
    assert "WindowGroupLimit" in p


def test_banded_simhash_is_equijoin(spark):
    """The dedup scale path must plan as a hash equi-join on the band
    bucket — never a cartesian/nested-loop product (that is exactly what
    the banding exists to avoid at 10^12 rows)."""
    p = plan(QUERIES["q_simhash_pairs_banded"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # equi-join on (seg, seg_val): broadcast at test SF, shuffle at scale
    assert any(
        j in p
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_lsh_ann_no_cartesian(spark):
    """x_knn_lsh joins on the bucket id: the broadcast side is the 20
    query vectors, and there must be no unconditioned cross product."""
    p = plan(QUERIES["x_knn_lsh"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_vote_single_shuffle(spark):
    """extract_vote = one narrow candidate stage + one groupBy(turn):
    exactly one exchange for the aggregation (plus nothing else)."""
    from documentai_ocr_spark.fusion import extract_vote

    df = extract_vote(
        spark.createDataFrame(synth_transcripts(n_convs=4, seed=1, skew_factor=1))
    )
    p = plan(df)
    assert n_exchanges(p) == 1, p


def test_stratified_sample_broadcasts_rates(spark):
    """The per-source rate dim must broadcast — the corpus-side scan
    never shuffles for this filter."""
    p = plan(QUERIES["q_stratified_sample"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_token_packing_bucketed_window(spark):
    """Packing is two-phase: the fact-side running-sum window must
    partition by (source, pack_bucket) — never by source alone, which
    would sort a whole source on one reducer. The only source-alone
    hash exchange allowed is the tiny per-bucket offset dim (≤
    _PACK_BUCKETS rows per source), which must reach the fact side as
    a broadcast, not a shuffle join."""
    p = plan(QUERIES["q_token_packing"](spark, SF))
    assert "pack_bucket" in p, p
    # every Window spec that includes `source` must also carry the bucket
    for ln in p.splitlines():
        if "Window " in ln and "source" in ln and "partial" not in ln:
            assert "pack_bucket" in ln or "boff" in ln, ln
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_score_calibration_bucketed_window(spark):
    """cume_dist must decompose: the fact-side ≤-count window partitions
    by (source, vbucket); the per-source prefix/total windows run only
    over the tiny count dim, broadcast back."""
    p = plan(QUERIES["q_score_calibration"](spark, SF))
    assert "vbucket" in p, p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_mean_filter_broadcasts_means(spark):
    """The per-lang mean is a partial-aggregated dim broadcast back to
    the scan — no lang-partitioned whole-group window on the fact
    side."""
    p = plan(QUERIES["q_mean_filter"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "SortMergeJoin" not in p


def test_pdfish_decode_single_shuffle_key(spark):
    """Both windows and the final aggregate share (doc_id, line_no) —
    a single hash exchange end to end."""
    p = plan(QUERIES["q_pdfish_line_decode"](spark, SF))
    assert p.count("hashpartitioning(") == 1, p


def test_ngram_topk_is_partial_topk(spark):
    """Top-k must plan as TakeOrderedAndProject (per-partition heap,
    k rows to the driver) — a global Sort before the limit is the
    at-scale regression."""
    p = plan(QUERIES["q_ngram_topk"](spark, SF))
    assert "TakeOrderedAndProject" in p
    # map-side partial aggregation before the exchange
    assert "partial_count" in p or "HashAggregate" in p


def test_exact_k_sample_broadcasts_threshold_dim(spark):
    """The per-source threshold dim must broadcast; the corpus must
    never be the build side of anything."""
    p = plan(QUERIES["q_exact_k_sample"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_epoch_shuffle_broadcasts_offsets_no_global_sort(spark):
    """Global rank must come from per-bucket windows + a broadcast
    offset dim — a single-partition global Sort/Window is exactly what
    the bucketing exists to avoid."""
    p = plan(QUERIES["q_epoch_shuffle"](spark, SF))
    assert "BroadcastHashJoin" in p
    # the only Window partitions by bucket — never an empty PARTITION BY
    # (which would plan Exchange SinglePartition before the window)
    assert "SinglePartition" not in p


def test_snapshot_diff_joins_on_projected_hashes(spark):
    """The CDC join must read only (doc_id, text→md5) — document text
    itself must not survive past the scan projection."""
    p = plan(QUERIES["q_snapshot_diff"](spark, SF))
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs and all("lang" not in ln and "source" not in ln for ln in rs)
    assert "CartesianProduct" not in p


def test_substring_dedup_no_cartesian(spark):
    """Window-content groupBy + equi-joins only — the dup-window join
    and the cover anti-join must never degenerate to a product."""
    p = plan(QUERIES["q_substring_dedup"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_neardup_band_equijoin(spark):
    """The corpus probe must be the band equi-join — batch×corpus must
    never plan as a product."""
    p = plan(QUERIES["q_incremental_neardup"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_near_filter_in_batch_arm_is_a_bucket_window(spark, tmp_path):
    """The in-batch near rule is a per-bucket min, not a (band, bh)
    self-join whose pairs grow with the square of the largest bucket:
    the only join keyed on band is the LeftSemi probe of the accepted
    state, and the in-batch arm is a Window partitioned by (band, bh)."""
    from documentai_ocr_spark.incdedup import _SIG_SCHEMA, near_filter

    bands = spark.createDataFrame(
        [(1, 0, "x"), (2, 0, "x"), (3, 1, "y")], _SIG_SCHEMA
    )
    bands.where("doc_id = 3").write.parquet(str(tmp_path / "acc"))
    acc_bands = spark.read.schema(_SIG_SCHEMA).parquet(str(tmp_path / "acc"))
    ek = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id bigint, h string"
    )
    p = plan(near_filter(ek, bands, acc_bands)[0])
    band_joins = [
        re.search(r"^Join type: (\w+)", node, re.MULTILINE).group(1)
        for node in re.split(r"^(?=\(\d+\) )", p, flags=re.MULTILINE)
        if re.match(r"\(\d+\) \w*Join", node)
        and re.search(r"^Left keys \[\d+\]: \[.*\bband#", node, re.MULTILINE)
    ]
    assert band_joins == ["LeftSemi"], p
    assert re.search(
        r"^\(\d+\) Window\n(?:[^\n]*\n)*?Arguments: .*\], "
        r"\[band#\d+, bh#\d+\]$",
        p,
        re.MULTILINE,
    ), p


def _plan_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(REPO, "tools", "plan_audit.py")
    )
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    return audit


def test_plan_audit_hash_keys_ignore_key_order():
    """tools/plan_audit.py renders each exchange's key list sorted, so
    PLANS.md does not churn when Catalyst expands the same keys in
    another order."""
    audit = _plan_audit()
    node = (
        "(4) Exchange\nInput [4]: [_groupingexpression#9, raw#1, canon#2, "
        "gid#3L]\nArguments: hashpartitioning({}, 16), "
        "ENSURE_REQUIREMENTS, [plan_id=7]\n"
    )
    a = audit.facts(node.format("_groupingexpression#9, raw#1, canon#2, gid#3L"))
    b = audit.facts(node.format("_groupingexpression#9, canon#2, raw#1, gid#3L"))
    assert a == b
    assert a["hash_keys"] == ["_groupingexpression, canon, gid, raw"]


def test_plan_audit_notes_plans_without_a_file_scan():
    """A plan that reads no file (its rows were materialized while the
    query was built) gets the no-scan note, not a flag; a plan with a
    file scan gets no note."""
    audit = _plan_audit()
    eager = (
        "(1) Scan ExistingRDD\nOutput [2]: [batch_seq#1, doc_id#2L]\n"
        "Arguments: [batch_seq#1, doc_id#2L], MapPartitionsRDD[9]\n"
    )
    scanned = (
        "(1) Scan parquet \nOutput [1]: [doc_id#2L]\n"
        "ReadSchema: struct<doc_id:bigint>\n"
    )
    assert audit.facts(eager)["notes"] == [audit.NO_SCAN_NOTE]
    assert audit.facts(eager)["scan_cols"] == []
    assert audit.facts(scanned)["notes"] == []
    assert audit.facts(scanned)["scan_cols"] == [1]


def test_asof_join_has_no_join_node(spark):
    """The as-of attach is a window carry-forward, not a join: the plan
    must contain zero join operators and exactly one exchange (hash by
    user_id) feeding the sort+window."""
    p = plan(QUERIES["q_asof_join"](spark, SF))
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert j not in p, j
    assert "Window" in p
    assert n_exchanges(p) == 1


def test_weighted_sample_is_partial_topk(spark):
    """The weighted sample must plan as TakeOrderedAndProject (per-
    partition heap + driver merge) — a global Sort here would be the
    corpus-wide sort the operator exists to avoid."""
    p = plan(QUERIES["q_weighted_sample"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_embed_quantize_broadcasts_codebook(spark):
    """Code assignment joins the 64-row min/max codebook as a broadcast
    — the vector corpus must not be shuffled for the join (its only
    exchange feeds the codebook aggregation itself)."""
    p = plan(QUERIES["q_embed_quantize"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_chunk_text_is_narrow(spark):
    """Chunking is scan → in-row start build → posexplode → project:
    zero exchanges, zero joins, zero window operators."""
    p = plan(QUERIES["q_chunk_text"](spark, SF))
    # the only allowed exchange is spread()'s round-robin fan-out of the
    # single-file test scan — never a hash/range (data-keyed) shuffle
    lo = p.lower()
    assert "hashpartitioning" not in lo
    assert "rangepartitioning" not in lo
    assert "Window" not in p
    assert "Join" not in p


def test_decontaminate_broadcasts_eval_keys(spark):
    """The eval-set window keys must broadcast onto the train window
    stream (the corpus side is never shuffle-partitioned for the probe
    join)."""
    p = plan(QUERIES["q_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_dynamic_partition_pruning_fires(spark, tmp_path_factory):
    """Partition-layout evidence: joining a partitioned fact table to a
    filtered dim must plan a dynamic-pruning subquery on the partition
    column, so only the dim-selected partitions are scanned at runtime
    — at 100 TB this is the difference between reading one event_type
    directory and reading the corpus. (Static pruning handles literal
    predicates; DPP covers the join-derived ones.)"""
    import pyspark.sql.functions as F

    base = str(tmp_path_factory.mktemp("dpp") / "events_by_type")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(base)
    fact = spark.read.parquet(base)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("click", 0.5), ("error", 0.0)],
        "event_type string, weight double",
    ).where(F.col("weight") > 0.7)
    j = fact.join(dim, "event_type").agg(F.sum("value"))
    p = plan(j)
    assert "dynamicpruning" in p.lower() or "DynamicPruning" in p, p[:500]


def test_no_cartesian_product_anywhere_in_registry(spark):
    """Registry-wide scale invariant: NO oracle-gated query may plan a
    CartesianProduct — the one join strategy that cannot survive a
    100-TB input. (Broadcast nested loops over 1-row scalar dims are
    fine and excluded; the O(n²) anchor queries are runtime-guarded by
    guard_allpairs and still must not plan a shuffled cross product at
    the test SF.) Sweeping every q_ entry makes this a standing net:
    a future refactor that silently degrades an equi-join to a cross
    join fails here, not at 100 TB."""
    bad = []
    for name, fn in sorted(QUERIES.items()):
        if name.startswith("x_"):
            continue  # iterative/driver-looping entries: covered by
            # their own plan/recall tests; building them here would
            # re-run k-means / prefix-sum jobs for no plan insight
        p = plan(fn(spark, SF))
        if "CartesianProduct" in p:
            bad.append(name)
    assert bad == [], bad


def test_source_overlap_no_join(spark):
    """The source-pair matrix must plan as aggregate → in-row pair
    expansion → aggregate: zero join nodes (the naive self-join scans
    and aggregates the corpus twice)."""
    p = plan(QUERIES["q_source_overlap"](spark, SF))
    assert "Join" not in p, p
    assert "collect_set" in p


def test_ppl_buckets_bucketed_window(spark):
    """The tercile ≤-count window must partition by (source, vbucket) —
    the q_score_calibration decomposition carried onto the LM score —
    with the offset dim broadcast, never a whole-source sort."""
    p = plan(QUERIES["q_ppl_buckets"](spark, SF))
    assert "vbucket" in p, p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    for ln in p.splitlines():
        if "Window " in ln and "source" in ln and "partial" not in ln:
            assert "vbucket" in ln or "coff" in ln, ln


def test_robust_stats_bucketed_windows(spark):
    """The median/MAD order-statistic dims are MATERIALIZED eagerly
    (O(sources) rows collected to literal broadcast dims — the
    epoch-shuffle prefix-sum precedent), so the returned plan must
    carry NO Window node at all and no sort-merge join: one fact scan,
    two broadcast joins against literal dims, one rollup. The bucketed
    (source, _vbucket) rank decomposition the eager passes ride is
    pinned at the helper level by
    test_two_phase_ranks_helper_under_skew and in-plan by
    q_trimmed_mean's test."""
    p = plan(QUERIES["q_robust_stats"](spark, SF))
    assert "Window" not in p, p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # both literal dims joined back: med and mad reach the rollup
    assert "med" in p and "mad" in p


def test_trimmed_mean_bucketed_window(spark):
    """The single rank pass partitions by (source, _vbucket); the
    per-source count and mean dims are broadcast joins."""
    p = plan(QUERIES["q_trimmed_mean"](spark, SF))
    assert "_vbucket" in p, p
    for ln in p.splitlines():
        if "Window " in ln and "row_number" in ln and "source" in ln:
            assert "_vbucket" in ln, ln
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_skyline_window_carries_collapsed_dim(spark):
    """The descending scan partitions by source but its input is the
    collapsed per-(source, n_chars) dim — the plan must show the
    collapse aggregate BELOW the window."""
    p = plan(QUERIES["q_skyline_docs"](spark, SF))
    # the 3-key collapse aggregate (source, x, y) builds the dim …
    assert "Keys [3]: [source" in p
    # … and the scan-level filter/pruning reached parquet
    assert "GreaterThan(n_chars,0)" in p
    assert "Window" in p and "CartesianProduct" not in p


def test_cube_expands_before_single_exchange(spark):
    """CUBE plans as Expand + partial aggregate below ONE exchange —
    map-side combine over all four grouping sets at once."""
    p = plan(QUERIES["q_cube_revenue"](spark, SF))
    assert "Expand" in p
    assert n_exchanges(p) == 1


def test_slo_burn_one_corpus_exchange(spark):
    """Everything after the per-(type, day) rollup runs on calendar
    dims: exactly ONE exchange keyed (event_type, day) — the corpus
    rollup. The only other event_type-keyed exchanges the plan may
    contain are the distinct-dim builds, and those must be map-side
    combined (a partial HashAggregate below the exchange) so their
    exchange input is dim-sized, never corpus-sized."""
    p = plan(QUERIES["q_slo_burn"](spark, SF))
    # the formatted plan's detail section prints exactly one
    # "Arguments: hashpartitioning(...)" line per Exchange node
    rollups = [
        ln.strip()
        for ln in p.splitlines()
        if "Arguments: hashpartitioning(event_type" in ln and ", day" in ln
    ]
    assert len(rollups) == 1, rollups
    # dim-build exchanges: single-key event_type, each directly above
    # a keyed HashAggregate (the partial distinct) in the tree section
    import re

    others = [
        ln.strip()
        for ln in p.splitlines()
        if "Arguments: hashpartitioning(event_type" in ln
        and ", day" not in ln
    ]
    for ln in others:
        node_id = re.search(r"plan_id=(\d+)", ln)
        assert node_id is not None, ln
    # each single-key exchange node must be fed by a HashAggregate:
    # "(n) Exchange" detail blocks follow their child "(n-1)
    # HashAggregate" in node numbering for this shape
    for m in re.finditer(r"^\((\d+)\) Exchange\nInput \[1\]: \[event_type", p, re.M):
        child = int(m.group(1)) - 1
        assert f"({child}) HashAggregate" in p, (
            "single-key event_type exchange not fed by a partial "
            "distinct aggregate"
        )


def test_split_scan_one_corpus_exchange(spark):
    """q_split_scan: documents are scanned and shuffled ONCE — the
    (n_chars, lang) rollup — and every other partitioning in the plan
    is over the threshold/lang dim columns, never doc_id."""
    p = plan(QUERIES["q_split_scan"](spark, SF))
    # column pruning: every scan reads ONLY (n_chars, lang) or less —
    # doc_id / text / source never leave parquet
    rs = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert rs
    for ln in rs:
        assert "doc_id" not in ln and "text" not in ln, ln
        assert "source" not in ln, ln


def test_activity_bitmap_single_exchange_chain(spark):
    """q_activity_bitmap (round-5 rework): base_day is a window min
    on the SAME user_id exchange the bit_or rollup uses — no join, no
    second scan branch, and no (user, day) distinct (bit_or is
    duplicate-insensitive). Exactly two exchanges total: user_id,
    then the ≤65-row histogram key."""
    import re

    p = plan(QUERIES["q_activity_bitmap"](spark, SF))
    assert "Join" not in p
    scans = re.findall(r"^\(\d+\) Scan parquet", p, re.M)
    assert len(scans) == 1, scans
    ex = re.findall(r"hashpartitioning\(([^,)]+)", p)
    keys = sorted({re.sub(r"#\d+L?", "", k) for k in ex})
    assert keys == ["n_active_64", "user_id"], keys


def test_minhash_capped_reuses_band_exchange(spark):
    """q_minhash_lsh_pairs_capped: the bucket-size rollup, the
    semi-join and the pair join all hash on (band, bh) — the cap must
    not introduce any NEW shuffle key beyond the uncapped query's,
    and the hot-bucket filter must sit under a plain equi-join plan
    (no cartesian, no corpus-keyed exchange)."""
    import re

    p = plan(QUERIES["q_minhash_lsh_pairs_capped"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    ex = re.findall(r"hashpartitioning\(([^)]*?), \d+\)", p)
    keys = sorted({re.sub(r"#\d+L?", "", k) for k in ex})
    # doc_id appears only for the map-side signature groupBy; every
    # OTHER exchange is the shared (band, bh) key or the final pair
    # rollup (doc_a=a.doc_id, doc_b=b.doc_id)
    for k in keys:
        assert k in (
            "doc_id",
            "band, bh",
            "a.doc_id, b.doc_id",
            "doc_id, doc_id",
        ), keys
