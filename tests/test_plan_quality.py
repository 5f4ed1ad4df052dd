"""Physical-plan assertions — the scale contract, checked in CI.

Correctness tests prove the output; these prove the PLAN stays the shape
that survives a 100x scale-up: filters reach the parquet scan, unused
columns are pruned before the Python stages, the small dimension side is
broadcast, and aggregations keep their map-side partial phase. A refactor
that silently turns the broadcast into a sort-merge join or drags the
``text`` column through the PDF parse fails here, not in production.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from paper2llm_spark.operators.parse import DEFAULT_GIANT_BYTES
from paper2llm_spark.plans import extract
from paper2llm_spark.plans.extract import extract_documents, routing_query
from paper2llm_spark.sources.pages import select_extractable


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "pages.parquet")
    rows = [
        (f"https://t/{i}", None, b"<html><body><p>hi</p></body></html>",
         "unused text column", "en" if i % 2 else "fr")
        for i in range(20)
    ]
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).write.mode("overwrite").parquet(path)
    return path


def test_lang_filter_pushed_to_scan(spark, pages_path):
    df = select_extractable(spark.read.parquet(pages_path), langs=("en",))
    plan = _physical(df)
    assert "PushedFilters:" in plan
    # the lang predicate must appear inside the pushed-filter list
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "lang" in pushed, pushed


def test_text_column_pruned_from_extract_scan(spark, pages_path):
    """The pipeline never touches ``text`` (payloads live in ``html``), so
    the parquet reader must not materialize it (north_rule: a scan that
    reads all columns for a projection is wrong)."""
    out = extract_documents(spark.read.parquet(pages_path))
    plan = _physical(out)
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "text" not in line, line


def test_q3_broadcasts_customer(spark):
    from paper2llm_spark.operators.relational import q3_top_orders

    plan = _physical(q3_top_orders(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle_with_partial_agg(spark):
    """hash-groupBy dedup: map-side partial agg + ONE exchange on the
    digest key (the input repartition is round-robin spreading of a
    single-file local scan, excluded by counting only hash exchanges)."""
    from paper2llm_spark.operators.dedup import dedup_exact

    plan = _physical(dedup_exact(spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plan.count("hashpartitioning") <= 2  # one logical shuffle (+AQE reuse)


def _plan_tree(jplan) -> tuple[str, list]:
    """(one-line node string, children) of a JVM physical plan; an
    adaptive plan is read through its not-yet-executed physical plan."""
    if jplan.nodeName() == "AdaptiveSparkPlan":
        jplan = jplan.executedPlan()
    kids = jplan.children()
    return jplan.simpleString(100), [_plan_tree(kids.apply(i)) for i in range(kids.size())]


def _walk(node):
    yield node[0]
    for child in node[1]:
        yield from _walk(child)


def _probe_chain(node) -> tuple[list[str], list]:
    """Node strings from ``node`` down to its leaf scan, following the
    probe side of broadcast joins (a branch of the union is otherwise
    linear), and the broadcast build subtrees met on the way."""
    chain, builds = [node[0]], []
    while node[1]:
        builds += [k for k in node[1] if k[0].startswith("BroadcastExchange")]
        probe = [k for k in node[1] if not k[0].startswith("BroadcastExchange")]
        assert len(probe) == 1, chain
        node = probe[0]
        chain.append(node[0])
    return chain, builds


# every Python exec node: MapInPandas, MapInArrow, ArrowEvalPython,
# BatchEvalPython(UDTF), FlatMap(Co)GroupsInPandas/InArrow,
# ArrowAggregatePython, ArrowWindowPython, ...
_PYTHON_NODE = re.compile(r"\w*(?:Python|In(?:Pandas|Arrow))(?:UDTF|WithState)?")


def _is_python(line: str) -> bool:
    return _PYTHON_NODE.fullmatch(line.split(" ", 1)[0]) is not None


def test_is_python_matches_every_python_node():
    python = [
        "MapInPandas gen(url#1)", "MapInArrow f(url#1)", "ArrowEvalPython [f(x#1)]",
        "BatchEvalPython [f(x#1)]", "FlatMapGroupsInPandas [url#1], f(url#1)",
        "FlatMapCoGroupsInArrow [url#1], f(url#1)", "ArrowAggregatePython [url#1]",
        "ArrowWindowPython [f(x#1)]", "ArrowEvalPythonUDTF [x#1]",
    ]
    sql = ["Exchange hashpartitioning(url#1, 8)", "HashAggregate(keys=[url#1])", "Project [url#1]"]
    assert all(map(_is_python, python)) and not any(map(_is_python, sql))


def test_unrouted_extract_is_one_python_stage(spark, pages_path):
    """No giant payload and no re-crawled url: the routing query, run on
    the driver, finds nothing to route, so the executed plan is scan ->
    filter -> ONE MapInPandas (the fused document stage), with no union,
    no exchange and no join. The routing query itself is SQL only and
    never reads ``text``."""
    pages = spark.read.parquet(pages_path)
    tree = _plan_tree(extract_documents(pages)._jdf.queryExecution().executedPlan())
    nodes = list(_walk(tree))
    assert [s.split()[0] for s in nodes if _is_python(s)] == ["MapInPandas"], nodes
    assert not any(
        s.startswith(("Union", "Exchange", "BroadcastExchange")) or "Join" in s.split()[0]
        for s in nodes
    ), nodes

    routing = list(_walk(_plan_tree(
        routing_query(pages, ("en",), DEFAULT_GIANT_BYTES)._jdf.queryExecution().executedPlan()
    )))
    assert not any(_is_python(s) for s in routing), routing
    scans = [s for s in routing if s.startswith("FileScan")]
    assert scans and not any("text" in s.split("ReadSchema: ")[1] for s in scans), scans


def _two_routes(out) -> tuple[list, list]:
    """Check the two-route plan of an extraction whose per-page route
    has documents; returns the broadcast build subtrees of both routes.

    Non-routed documents: scan -> filter -> ONE MapInPandas (the fused
    document stage), no shuffle, no other Python node. Routed documents:
    a SQL-only repartition below their first Python node (so their scan
    stage starts no Python worker), a by-number spread repartition (AQE
    never coalesces it), and the groupBy(url) reassembly — the only
    ENSURE_REQUIREMENTS exchange on either route; their Python nodes are
    the chunk planner, the parse and the reassembly, all MapInPandas. No
    scalar Python UDF is left in the plan."""
    tree = _plan_tree(out._jdf.queryExecution().executedPlan())
    assert tree[0].startswith("Union") and len(tree[1]) == 2, tree[0]
    giant = next(b for b in tree[1] if any("REPARTITION_BY_NUM" in s for s in _walk(b)))
    small = next(b for b in tree[1] if b is not giant)

    small_chain, small_builds = _probe_chain(small)
    assert [s.split()[0] for s in small_chain if _is_python(s)] == ["MapInPandas"], small_chain
    assert not any(s.startswith("Exchange") for s in small_chain), small_chain

    # leaf (scan) upwards: the first exchange comes before the first Python node
    giant_chain, giant_builds = _probe_chain(giant)
    giant_up = giant_chain[::-1]
    assert [s.split()[0] for s in giant_up if _is_python(s)] == ["MapInPandas"] * 3, giant_up
    assert not any(s.startswith("ArrowEvalPython") for s in _walk(tree)), tree
    first_exchange = next(i for i, s in enumerate(giant_up) if s.startswith("Exchange"))
    first_python = next(i for i, s in enumerate(giant_up) if _is_python(s))
    assert first_exchange < first_python, giant_up
    assert "REPARTITION_BY_COL" in giant_up[first_exchange], giant_up[first_exchange]
    spread = [s for s in giant_up if s.startswith("Exchange") and "page_lo" in s]
    assert len(spread) == 1 and "REPARTITION_BY_NUM" in spread[0], spread

    implicit = [
        s for s in small_chain + giant_chain
        if s.startswith("Exchange") and "ENSURE_REQUIREMENTS" in s
    ]
    assert len(implicit) == 1 and "hashpartitioning(url" in implicit[0], implicit
    reassembly = giant_up.index(implicit[0])
    assert reassembly > giant_up.index(spread[0]), giant_up
    return small_builds, giant_builds


def test_assemble_is_single_shuffle(spark, pages_path):
    """Every document routed (``giant_bytes=0``): the two-route plan of
    :func:`_two_routes`. The routed urls are few, so they ride in the
    plan as an IN list: no join and no broadcast on either route."""
    out = extract_documents(spark.read.parquet(pages_path), giant_bytes=0)
    _two_routes(out)
    plan = _physical(out)
    assert "BroadcastExchange" not in plan and "Join" not in plan
    assert " IN (https://t/" in plan or " INSET https://t/" in plan, plan


def test_routed_url_set_is_broadcast_local_relation(spark, pages_path, monkeypatch):
    """Above ``INLINE_URLS`` routed urls, both routes join the url set as
    a broadcast local relation: SQL only, no Python node, no scan."""
    monkeypatch.setattr(extract, "INLINE_URLS", 0)
    small_builds, giant_builds = _two_routes(
        extract_documents(spark.read.parquet(pages_path), giant_bytes=0)
    )
    assert small_builds and giant_builds
    for build in small_builds + giant_builds:
        nodes = list(_walk(build))
        assert nodes[-1].startswith("LocalTableScan"), nodes
        assert not any(_is_python(s) or s.startswith("FileScan") for s in nodes), nodes


def test_runner_tables_are_local_relations(spark, pages_path, tmp_path, monkeypatch):
    """The checkpointed runner builds its checkpoint and stage-metrics
    rows from Arrow: each write plans a ``LocalTableScan``, never a scan
    of a Python RDD (``Scan ExistingRDD``)."""
    job = extract.CheckpointedExtractJob(
        spark, pages_path, str(tmp_path / "out"), n_buckets=2, n_groups=1
    )
    plans: dict[str, list[str]] = {}
    write = job._write

    def recording_write(df, path):
        plans.setdefault(path, []).append(_physical(df))
        write(df, path)

    monkeypatch.setattr(job, "_write", recording_write)
    job.run()
    for path in (job.checkpoint_path, job.stage_metrics_path):
        assert plans.get(path), path
        for plan in plans[path]:
            assert "ExistingRDD" not in plan and "LocalTableScan" in plan, plan


def test_ivf_join_is_equi_join_not_cartesian(spark):
    from paper2llm_spark.operators.similarity import ivf_topk

    plan = _physical(ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pairs_equi_join_on_band(spark):
    from paper2llm_spark.operators.dedup import lsh_candidate_pairs

    plan = _physical(lsh_candidate_pairs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_join_conf_enabled(spark):
    """A hot LSH band / embedding bucket must split at runtime: the
    session factory is required to ship with AQE skew-join on (the
    band-hash equi-joins are the skew-exposed shuffles at 10^12 docs)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_curation_enrichment_is_fused_single_pass(spark):
    """lang + quality + PII are all projections of ``text``; the curation
    pipeline must compute them in ONE pass over the scan — zero joins,
    zero hash exchanges (the naive operator-output composition would
    self-join the corpus on doc_id four times)."""
    from paper2llm_spark.functions.text import tokens
    from paper2llm_spark.operators.curation import _PII_PLANT
    from paper2llm_spark.operators.textstats import (
        _docs, with_lang, with_pii_scrub, with_quality,
    )

    staged = _docs(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text",
        tokens(F.col("text")).alias("toks"),
        F.expr(_PII_PLANT).alias("pii_text"),
    )
    plan = _physical(with_pii_scrub(with_quality(with_lang(staged))))
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan  # round-robin spread only


def test_pii_scrub_is_shuffle_free_codegen(spark):
    from paper2llm_spark.operators.textstats import pii_scrub

    plan = _physical(pii_scrub(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    # JVM expressions only (an AQE plan shows codegen spans only after
    # execution, so assert the absence of Python eval nodes instead)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lsh_clusters_joins_are_equi_joins(spark):
    from paper2llm_spark.operators.dedup import lsh_duplicate_clusters

    plan = _physical(lsh_duplicate_clusters(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_df_cap_bounds_hot_shingle_fanout(spark, tmp_path):
    """Hot-shingle guard: a stop-shingle shared by every document must NOT
    reach the shingle self-join. 100 docs sharing one trigram would make
    C(100,2)=4950 join rows from that shingle alone; with the df-cap the
    hot shingle is dropped and the surviving pairs come only from the
    rare (df<=cap) shingles. The capped Spark result must also stay in
    lockstep with the capped DuckDB dual."""
    import duckdb

    from paper2llm_spark.operators import dedup

    sf_dir = str(tmp_path)
    # 100 docs, each: one shared hot trigram ("stop shingle one two" ->
    # trigrams incl. the same 4-gram windows) + unique filler; plus one
    # true near-dup pair (docs 900/901) whose overlap is in RARE shingles
    rows = []
    for i in range(100):
        rows.append((i, f"common stop shingle here unique{i}a unique{i}b unique{i}c"))
    rows.append((900, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((901, "alpha beta gamma delta epsilon zeta eta iota"))
    spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    out = dedup.ngram_jaccard_pairs(spark, sf_dir)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    # the hot shingles (df=100 > cap) are dropped -> the 100 hot docs
    # share nothing; only the rare-shingle near-dup pair survives
    assert (900, 901) in got
    assert all(a == 900 for a, _ in got), got
    # plan: posting lists — no EQUI-join keyed on shingle (pair
    # generation is array transforms over df-capped lists, so no join
    # fanout for a hot shingle to blow up). The ONE shingle-keyed join
    # allowed is the LeftAnti broadcast hot-set prune, and it must sit
    # BELOW (after, in tree-print order) the collect_list aggregate so
    # every posting buffer is bounded by the cap, not raw df.
    plan = _physical(out)
    lines = plan.splitlines()
    join_lines = [ln for ln in lines if "Join" in ln]
    assert join_lines, "size lookups should be joins"
    shingle_joins = [ln for ln in join_lines if "shingle#" in ln]
    assert shingle_joins and all(
        "BroadcastHashJoin" in ln and "LeftAnti" in ln for ln in shingle_joins
    ), shingle_joins
    assert all("BroadcastHashJoin" in ln for ln in join_lines), join_lines
    posting_agg = next(
        i for i, ln in enumerate(lines)
        if "partial_" in ln and "collect_list" in ln
    )
    anti = next(i for i, ln in enumerate(lines) if "LeftAnti" in ln)
    assert anti > posting_agg, "hot-set prune must feed the posting agg"
    assert "CartesianProduct" not in plan

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    duck = {
        (int(r["doc_a"]), int(r["doc_b"])): float(r["jaccard"])
        for r in con.sql(dedup.NGRAM_JACCARD_SQL).fetchdf().to_dict("records")
    }
    assert {k: float(v) for k, v in got.items()} == duck


def test_embedding_neardup_band_join_ships_ids_not_vectors(spark):
    """Banded hyperplane LSH scale contract: the candidate join keys on
    (band, bhash) and its exchanges carry only ids + hashes — the
    64-double vectors must NOT ride the band-duplicated shuffle (that
    would multiply corpus bytes by EMB_BANDS); vectors re-enter via the
    post-distinct equi-joins on vec_id. Full planted-pair recall is the
    semantic half: with 4 bands a pair is missed only if every band
    splits it."""
    from paper2llm_spark.operators.similarity import (
        N_PLANT,
        PLANT_OFFSET,
        embedding_neardup,
    )

    out = embedding_neardup(spark, "/root/testdata/sf0.001")
    rows = out.collect()  # finalize AQE before reading the plan
    planted = {
        (r["vec_a"], r["vec_b"])
        for r in rows
        if r["vec_b"] - r["vec_a"] == PLANT_OFFSET
    }
    assert len(planted) == min(
        N_PLANT,
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").count(),
    )
    plan = _physical(out)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning(band" in ln or (
            "Exchange" in ln and "bhash" in ln
        ):
            assert "v#" not in ln and "va#" not in ln, ln
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The eval-suite gram set is MBs against a TB corpus: the overlap
    join MUST be a broadcast hash join, never sort-merge or cartesian."""
    from paper2llm_spark.operators.webstats import decontaminate

    plan = _physical(decontaminate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_keeps_partial_aggregation(spark):
    """Both gram aggregations must keep their map-side partial phase —
    the corpus-sized shuffle carries partial counts, not raw grams."""
    from paper2llm_spark.operators.webstats import repetition_stats

    plan = _physical(repetition_stats(spark, "/root/testdata/sf0.001"))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_exchange_no_range_blowup(spark):
    """The as-of join is union + window: exactly ONE hash exchange (on
    user_id) and no join operator at all — a range-join formulation
    would show a CartesianProduct/BNLJ and explode at scale."""
    from paper2llm_spark.operators.webstats import asof_join

    plan = _physical(asof_join(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_stratified_sample_is_scan_side_only(spark):
    """Deterministic sampling is a pure scan-side filter: zero exchanges,
    and the scan reads only the two needed columns."""
    from paper2llm_spark.operators.webstats import stratified_sample

    plan = _physical(stratified_sample(spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_window_dedup_broadcasts_hot_set(spark):
    """The duplicated-window hash set is the small side by construction
    (the duplicated tail of the window distribution): its membership
    probe must be a broadcast hash join, and the reassembly groupBy must
    be the only corpus-sized exchange family — no sort-merge join."""
    from paper2llm_spark.operators.webcorpus import window_dedup

    plan = _physical(window_dedup(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_domain_stats_single_partial_agg_prunes_text_early(spark):
    """One aggregation with its map-side partial phase; the shuffle
    carries per-(source, partition) counters, never document text."""
    from paper2llm_spark.operators.webcorpus import domain_stats

    plan = _physical(domain_stats(spark, "/root/testdata/sf0.001"))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    # text collapses to the n_toks counter BELOW every hash shuffle
    # (plans print sinks first, so deeper operators have larger offsets)
    ntoks_at = plan.index("AS n_toks#")
    ex = plan.find("Exchange hashpartitioning")
    while ex != -1:
        assert ex < ntoks_at, plan[ex : ex + 80]
        ex = plan.find("Exchange hashpartitioning", ex + 1)


def test_domain_cap_single_window_exchange(spark):
    """Per-domain top-K is ONE exchange (the row_number window on
    source); quality scoring adds no join and no extra shuffle."""
    from paper2llm_spark.operators.webcorpus import domain_cap

    plan = _physical(domain_cap(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges


def test_unigram_logprob_broadcasts_vocab(spark):
    """The top-V vocabulary (and the 1-row total) are vocabulary-sized
    state: every join in the scoring pass must be broadcast — a
    sort-merge join would reshuffle the exploded token stream."""
    from paper2llm_spark.operators.webcorpus import unigram_logprob

    plan = _physical(unigram_logprob(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash60_is_shuffle_free_fold(spark):
    """SimHash signatures fold scan-side over the token array: zero
    exchanges (beyond the local-input spread) — the explode+groupBy
    shape would shuffle docs x 61-column partial-agg rows."""
    from paper2llm_spark.operators.dedup import simhash60

    plan = _physical(simhash60(spark, "/root/testdata/sf0.001"))
    assert "Exchange hashpartitioning" not in plan


def test_char_entropy_is_scan_side_only(spark):
    """The char histogram is length/replace codegen: no joins, no hash
    exchanges, no Python — the whole query is scan -> project."""
    from paper2llm_spark.operators.webcorpus import char_entropy

    plan = _physical(char_entropy(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_broadcasts_bucket_model(spark):
    """DSIR scoring: the hashed-feature log-ratio table is DSIR_BUCKETS
    rows — it must reach the per-gram scoring join as a broadcast, and
    the two model-building passes must keep their map-side partial
    phase (shuffles carry (bucket, partial_count), never raw grams)."""
    from paper2llm_spark.operators.webselect import dsir_weights

    plan = _physical(dsir_weights(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (src, tgt)


def test_url_dedup_no_spread_exchange(spark):
    """URL dedup is exact-dedup-shaped: canonicalization is codegen in
    the scan task and the ONLY exchange is the groupBy on the canonical
    key (no round-robin spread of the corpus)."""
    from paper2llm_spark.operators.webselect import url_dedup

    plan = _physical(url_dedup(spark, "/root/testdata/sf0.001"))
    assert "RoundRobinPartitioning" not in plan
    assert plan.count("hashpartitioning") <= 2  # one logical shuffle (+AQE reuse)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_pq_topk_broadcasts_query_luts(spark):
    """PQ ANN: the corpus side collapses to (vec_id, M_SUB code ints)
    scan-side; the per-query LUTs are the broadcast side of the join —
    no corpus-sized exchange anywhere before the top-k window."""
    from paper2llm_spark.operators.similarity import pq_topk

    plan = _physical(pq_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_pack_single_shard_exchange(spark):
    """Packing must not serialize through one global window partition:
    exactly one hash exchange (on shard) feeds the per-shard sort."""
    from paper2llm_spark.operators.webselect import sequence_pack

    plan = _physical(sequence_pack(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning") <= 2  # one logical shuffle (+AQE reuse)
    assert "SinglePartition" not in plan


def test_mixture_plan_keeps_partial_agg(spark):
    from paper2llm_spark.operators.webselect import mixture_plan

    plan = _physical(mixture_plan(spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_lsh_verified_adds_no_joins_beyond_band_join(spark):
    """Signature verification rides the candidate join: exactly one
    join in the plan (the band equi-join) — the signatures are carried,
    not re-joined, and nothing is cartesian."""
    from paper2llm_spark.operators.dedup import lsh_verified_pairs

    plan = _physical(lsh_verified_pairs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan


def test_tfidf_reuses_tf_frame_for_df(spark):
    """df reaggregates the (doc, tok) tf frame. The static plan shows
    the tf subtree twice (no cross-branch CSE in Catalyst), but at
    runtime exchange reuse must collapse them — the corpus is tokenized
    and shuffled ONCE; both aggregations keep their map-side partial
    phase."""
    from paper2llm_spark.operators.textstats import tfidf_topk

    df = tfidf_topk(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE finalizes the plan (ReusedExchange) on execution
    plan = _physical(df)
    assert "ReusedExchange" in plan, plan
    assert plan.count("HashAggregate") >= 4


def test_funnel_single_exchange(spark):
    """Ordered funnel: one hash exchange on user_id feeding the fold —
    sequence matching never becomes a self-join cascade."""
    from paper2llm_spark.operators.webstats import funnel

    plan = _physical(funnel(spark, "/root/testdata/sf0.001"))
    assert plan.count("hashpartitioning") <= 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "CartesianProduct"):
        assert j not in plan


def test_gopher_rules_scan_side_only(spark):
    """The Gopher rule battery folds staged token arrays in the scan
    task: no joins, no hash exchanges, no Python anywhere."""
    from paper2llm_spark.operators.webquality import gopher_rules

    plan = _physical(gopher_rules(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_filters_scan_side_only(spark):
    """C4 line filters run as array lambdas over split(text): the whole
    query (line synthesis included) is scan -> project, zero exchanges
    — never the explode+regroup shape that pays two shuffles."""
    from paper2llm_spark.operators.webquality import c4_filters

    plan = _physical(c4_filters(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_scan_side_only(spark):
    """Hashed-linear classifier inference is ONE codegen projection:
    the weight table rides as an array literal, tokens fold in the scan
    task — no joins, no exchanges, no Python."""
    from paper2llm_spark.operators.webquality import quality_classifier

    plan = _physical(quality_classifier(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_normalize_is_arrow_not_row_python(spark):
    """Unicode NFC has no Spark builtin, so this op is allowed a Python
    stage — but it must be the Arrow-vectorized kind (ArrowEvalPython),
    never row-at-a-time BatchEvalPython, and shuffle-free."""
    from paper2llm_spark.operators.webnormalize import text_normalize

    plan = _physical(text_normalize(spark, "/root/testdata/sf0.001"))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_paragraph_dedup_keeper_join_on_short_keys(spark):
    """The keeper table is (hash, struct) SHORT rows from a partial-agg
    groupBy; no join may key on the line text itself."""
    from paper2llm_spark.operators.webnormalize import paragraph_dedup

    df = paragraph_dedup(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _physical(df)
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines
    assert all("line#" not in ln for ln in join_lines), join_lines
    assert "partial_min" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_bloom_prefilter_broadcasts_bit_set(spark):
    """The Bloom bit set is a few KB regardless of how many keys were
    ingested — it must BROADCAST to the probe join (never sort-merge),
    and both aggregations keep their map-side partial phase so nothing
    corpus-sized shuffles."""
    from paper2llm_spark.operators.webfilter import bloom_prefilter

    df = bloom_prefilter(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # probe-hit agg keeps map-side combine


def test_url_blocklist_is_broadcast_dim_join(spark):
    from paper2llm_spark.operators.webfilter import url_blocklist

    df = url_blocklist(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iterations_are_equi_joins_on_short_keys(spark):
    """PageRank rounds: every join is an equi-join (rank-to-edge and
    rank-refresh), never cartesian; the edge list is checkpointed so
    per-round lineage does not re-derive the graph."""
    from paper2llm_spark.operators.webgraph import pagerank

    df = pagerank(spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # checkpointed edges appear as an ExistingRDD scan, not a re-derivation
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan


def test_outlink_hostgraph_single_partial_agg_no_joins(spark):
    """Outlink extraction: href pull + host parse stay in the scan
    task; the one exchange carries (host, host, partial count) rows —
    map-side combine must survive, and no join appears anywhere."""
    from paper2llm_spark.operators.webgraph import outlink_hostgraph

    plan = _physical(outlink_hostgraph(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert plan.count("hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_funnel_two_window_exchanges_no_joins(spark):
    """The composed funnel fuses all five stage signals into one
    scan-side projection; the ONLY exchanges are the two windows
    (md5-canonical, source-rank) plus the round-robin spread of the
    single local file.  Composing by joining the standalone stage
    outputs would shuffle the corpus four times — this asserts we
    never regress to that."""
    from paper2llm_spark.operators.webfunnel import quality_funnel

    import re

    plan = _physical(quality_funnel(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # key-set, not line-count: a cached copy of the same lineage (the
    # test fixture) can embed its InMemoryRelation plan and double the
    # raw line count without changing the shuffle structure
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"content_md5", "source"}, keys


def test_meta_extract_is_scan_side_only(spark):
    """Every metadata field is a codegen regexp over the decoded
    payload: no joins, no Python, no hash exchange (the only exchange
    is the round-robin spread of the single local file)."""
    from paper2llm_spark.operators.webmeta import meta_extract

    plan = _physical(meta_extract(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_snapshot_delta_union_groupby_not_outer_join(spark):
    """The delta must stay the union→groupBy shape: ONE map-side
    combinable exchange of (url, side, digest) short rows — never the
    full-outer join that would sort-shuffle both snapshots.  The digest
    travels as bigint chunks specifically so the agg keeps its
    HashAggregate form; max(string) degrades the whole aggregation to
    SortAggregate (a per-task sort of every row)."""
    from paper2llm_spark.operators.websnapshot import snapshot_delta

    # sf0.01, not sf0.001: the semantic test caches the sf0.001 lineage
    # and a cache hit would splice an InMemoryRelation into this plan
    plan = _physical(snapshot_delta(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "Union" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "SortAggregate" not in plan, "string-agg regression"


def test_rpv2_signals_two_short_row_exchanges(spark):
    """The RPv2 battery must stay the explode→two-groupBy shape: the
    only corpus-sized exchange carries (doc_id, token, partial count)
    short rows, line counters ride as min() (first()/max(string) would
    degrade HashAggregate→SortAggregate), and entropy folds into the
    same agg via H = ln n − (Σ c·ln c)/n — never a per-doc frequency
    map or a second token pass."""
    from paper2llm_spark.operators.webrpv2 import rpv2_signals

    plan = _physical(rpv2_signals(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, "constant-carry agg regression"


def test_anchor_text_short_row_exchanges_only(spark):
    """Anchor aggregation: element extraction and href/text parsing are
    codegen regexps in the scan task; the corpus-sized exchange carries
    (dst_host, term, partial count) short rows (map-side combine before
    it), and the top-K window runs over vocabulary-bounded aggregated
    rows — zero joins, zero Python, html never shuffled."""
    from paper2llm_spark.operators.webanchor import anchor_text

    plan = _physical(anchor_text(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"dst_host"}, keys


def test_bpe_pair_count_is_short_row_word_count_shape(spark):
    """Each BPE round's pair count must stay the word-count shape: a
    map-side-combinable HashAggregate over (a, b) short rows from the
    vocab-sized word-type table — no Python, no joins, no sort-based
    aggregation."""
    from paper2llm_spark.operators.bpe import (
        _pair_counts, _symbolize, _word_counts,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(_pair_counts(_symbolize(_word_counts(docs))))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortAggregate" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x (wc, pairs)


def test_robots_filter_broadcast_only_no_exchange(spark):
    """The compliance check must ride the scan task: the deduped rule
    table is broadcast and joined once per path depth level — no
    explode+regroup (which would exchange corpus-sized rows on url),
    no sort-merge join, no Python."""
    from paper2llm_spark.operators.webrobots import robots_filter

    plan = _physical(robots_filter(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    # the only hash exchanges belong to the small-side rule dedup
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"host", "source"}, keys


def test_boilerplate_blocks_single_url_exchange(spark):
    """Block split + features are scan-side codegen; the row_number /
    prev-sure / next-sure windows all share ONE hashpartitioning on
    url (no second exchange, no joins, no Python). The corpus-sized
    shuffle carries short block rows, never the raw page."""
    from paper2llm_spark.operators.webboiler import boilerplate_blocks

    # sf0.01: the semantic test caches sf0.001 lineage (InMemoryRelation
    # would splice into this plan)
    plan = _physical(boilerplate_blocks(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(url" in hash_exchanges[0]


def test_bm25_query_side_broadcasts(spark):
    """BM25: the query-term and df tables must broadcast onto the
    postings (never a corpus-sized SortMergeJoin); the 1-row corpus
    scalars ride a broadcast nested-loop crossJoin; the only
    corpus-sized hash exchange is the postings groupBy."""
    from paper2llm_spark.operators.websearch import bm25_topk

    plan = _physical(bm25_topk(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    # postings (doc_id, term...), candidate agg (query_id, doc_id...),
    # tournament windows (query_id...) — all post-broadcast-prune sides
    assert any(k.startswith("doc_id") for k in keys), keys


def test_host_prior_corpus_never_shuffles(spark):
    """Host prior: the corpus-sized side must stay in its scan tasks —
    the only hash exchanges carry (host, count, sum) partial-agg rows;
    the host table re-enters by BroadcastHashJoin and the 1-row global
    mean by broadcast nested loop.  No SortMergeJoin, no Python."""
    from paper2llm_spark.operators.webhost import host_prior_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(host_prior_frame(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys <= {"host"}, keys


def test_substring_spans_two_exchanges_no_joins(spark):
    """ExactSubstr spans: gram fingerprints built scan-side, exactly
    two hash exchanges (gh count-window; doc_id island window), the
    final groupBy(doc_id, island) reuses the doc_id partitioning, and
    the whole plan is join-free and Python-free."""
    from paper2llm_spark.operators.websubstr import substring_spans_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(substring_spans_frame(docs))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    lines = [ln for ln in plan.splitlines()
             if "Exchange hashpartitioning" in ln]
    assert len(lines) == 2, lines
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys == {"gh", "doc_id"}, keys


def test_winnow_zero_exchanges(spark):
    """Winnowing: the whole operator is a scan-side projection chain
    over bound arrays plus one explode — zero exchanges, zero joins,
    zero Python."""
    from paper2llm_spark.operators.webwinnow import winnow_fingerprints_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(winnow_fingerprints_frame(docs))
    assert "Join" not in plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_frontier_two_windows_no_joins(spark):
    """Frontier: two window exchanges (host; shard) of short rows, no
    joins, no Python — the page payload never enters the frontier."""
    from paper2llm_spark.operators.webfrontier import crawl_frontier_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(crawl_frontier_frame(docs))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys == {"host", "shard"}, keys
    # the scan must prune text: only source/doc_id/n_chars are read
    assert "text" not in _re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_readability_zero_exchanges(spark):
    """Readability: one codegen projection in the scan task — zero
    exchanges, joins, Python."""
    from paper2llm_spark.operators.webreadability import readability_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(readability_frame(docs))
    assert "Join" not in plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnow_pairs_cap_before_join(spark):
    """Winnow pairs: the df-cap filter must sit on the join INPUT (the
    posting lists are pruned before pairing), the join key is fp, and
    the text column never reaches an exchange."""
    from paper2llm_spark.operators.webwinnow import winnow_pairs_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(winnow_pairs_frame(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    # first-key capture: dedup groupBy (doc_id, fp), df window + join
    # (fp), pair groupBy (doc_a, doc_b)
    assert keys <= {"doc_id", "fp", "doc_a"}, keys
    assert "text" not in "".join(
        _re.findall(r"Exchange [^\n]*", plan)
    )


def test_url_templates_one_corpus_exchange(spark):
    """Trap miner: masking is scan-side; the only corpus-sized exchange
    is the (host, template) groupBy; the host-share window reuses the
    host clustering on the collapsed table. No joins, no Python, no
    text read."""
    from paper2llm_spark.operators.webtrap import url_templates_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(url_templates_frame(docs))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys <= {"host"}, keys
    assert "text" not in _re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_source_overlap_corpus_never_joined(spark):
    """Overlap audit: the only corpus-sized exchange is the map-side-
    combinable groupBy(source); the pairwise stage is a broadcast
    nested-loop self-join of the |sources|-row signature table."""
    from paper2llm_spark.operators.weboverlap import source_overlap_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(source_overlap_frame(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys <= {"source"}, keys


def test_recrawl_zero_exchanges(spark):
    """Recrawl estimator: history roll + change fold + literal-table
    lookup + tier CASE are one scan-side projection — zero exchanges,
    joins, Python; text never read."""
    from paper2llm_spark.operators.webrecrawl import recrawl_priority_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(recrawl_priority_frame(docs))
    assert "Join" not in plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    assert "text" not in _re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_sitemap_zero_exchanges(spark):
    """Sitemap parse: block split + field pulls are scan-side codegen +
    one explode — zero exchanges, joins, Python; text never read."""
    from paper2llm_spark.operators.websitemap import (
        _synth_sitemaps, sitemap_urls_frame,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(sitemap_urls_frame(_synth_sitemaps(docs)))
    assert "Join" not in plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    assert "text" not in _re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_cdc_zero_exchanges(spark):
    """CDC chunking: scan -> ONE vectorized Arrow (mapInPandas) stage
    running the gear-hash convolution — zero exchanges, zero joins,
    and never the row-at-a-time Python evaluator.  (The declarative
    HOF form measured 43x slower on long docs — the Arrow seam is the
    deliberate production shape, like webnormalize's NFC pass.)"""
    from paper2llm_spark.operators.webcdc import cdc_chunks_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(cdc_chunks_frame(docs))
    assert "Join" not in plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python: never
    assert plan.count("MapInPandas") == 1 or plan.count("ArrowEvalPython") == 1


def test_temperature_mix_collapses_scan_side(spark):
    """Temperature mix: ONE map-side-combinable groupBy(lang) (the
    corpus collapses to |langs| rows before the exchange), 1-row
    broadcast crossJoin normalizer, text never read."""
    from paper2llm_spark.operators.webtemp import temperature_mix_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(temperature_mix_frame(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys <= {"lang"}, keys
    assert "text" not in _re.findall(r"ReadSchema: struct<([^>]*)>", plan)[0]


def test_index_postings_cap_under_collect(spark):
    """Postings builder: three term-clustered SHORT-ROW exchanges (tf
    groupBy; the |vocab|-row df groupBy; the collect groupBy) — df
    re-enters by broadcast hash join, never a corpus window sort — and
    the DF_CAP filter sits UNDER the collect aggregate so no buffer
    holds a stop term's corpus-sized posting list."""
    from paper2llm_spark.operators.webindex import index_postings_frame

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _physical(index_postings_frame(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan        # vocab-row df table
    assert "BroadcastNestedLoopJoin" in plan  # 1-row corpus-size bound
    assert "Window" not in plan               # no skewed term-sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
    assert keys == {"term"}, keys
    lines = [ln for ln in plan.splitlines()
             if "Exchange hashpartitioning" in ln]
    # static plan prints the shared (term, doc_id) partial-agg exchange
    # once per consumer (join input + df source); AQE collapses it to a
    # ReusedExchange at runtime, leaving 3 physical shuffles
    assert len(lines) <= 4, lines
    # cap filter below the collect_list aggregate in the plan text
    collect_at = plan.index("collect_list")
    assert "n_total" in plan[collect_at:], "df cap not under the collect"


def test_sketches_bounded_partial_agg(spark):
    """Sketches: hash/rank/bucket scan-side, ONE map-side-combinable
    groupBy each — every partition ships a bounded register/counter
    block regardless of corpus size. No joins, no Python."""
    import re as _re

    from paper2llm_spark.operators.websketch import (
        countmin_counts_frame, hll_registers_frame,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    for frame, key in ((hll_registers_frame, "bucket"),
                       (countmin_counts_frame, "row_idx")):
        plan = _physical(frame(docs))
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("HashAggregate") >= 2  # partial + final
        keys = set(_re.findall(r"Exchange hashpartitioning\(([^)#]+)#", plan))
        assert keys == {key}, keys


def test_cetr_lines_single_url_exchange(spark):
    """CETR: synthesis, line split and tag-ratio features are scan-side
    codegen; the row window, the +-1 smoothing window and the page
    window all share ONE hashpartitioning on url.  No joins, no
    Python — the corpus-sized shuffle carries short line rows."""
    from paper2llm_spark.operators.webcetr import cetr_lines

    plan = _physical(cetr_lines(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(url" in hash_exchanges[0]


def test_arc90_single_url_exchange(spark):
    """Arc90: element extraction, priors and the exact score are all
    codegen in the scan task; the block-index and top-candidate windows
    share ONE hashpartitioning on url.  No joins, no Python."""
    from paper2llm_spark.operators.webarc90 import readability_extract

    plan = _physical(readability_extract(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(url" in hash_exchanges[0]


def test_extract_agreement_joins_short_rows_only(spark):
    """Agreement audit: the only join is the full-outer equi-join of
    DISTINCT (url, token) short rows — every hash exchange partitions
    on url (extractor windows, distincts, join, final groupBy); raw
    page text never rides an exchange.  No Python."""
    from paper2llm_spark.operators.webvote import extract_agreement

    plan = _physical(extract_agreement(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"url"}, keys


def test_zipf_profile_exchange_keys(spark):
    """Zipf/Heaps: the only corpus-sized exchange is the (lang, term)
    partial-count groupBy; the rank window and final agg run on the
    vocabulary-bounded table partitioned by lang.  No joins, no
    Python."""
    from paper2llm_spark.operators.webzipf import zipf_profile

    plan = _physical(zipf_profile(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys == {"lang"}, keys


def test_softdedup_gram_table_broadcasts(spark):
    """SoftDeDup: the Heaps-bounded gram-count table re-enters the
    scoring explode as a BroadcastHashJoin; the G / max-NLL scalars as
    1-row broadcast nested loops.  Hash exchanges carry only gram
    partials and (doc_id, sum, count) short rows."""
    from paper2llm_spark.operators.websoft import softdedup_weights

    plan = _physical(softdedup_weights(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan
    import re as _re
    keys = set(_re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"gram", "doc_id"}, keys


def test_host_components_edges_single_exchange(spark):
    """Host components: the corpus-sized stage (anchor extraction ->
    host-pair counts) is one map-side-combinable groupBy; the CC loop
    then runs on the |hosts|-bounded graph (localCheckpointed, so it
    does not appear here).  The final frame stays Python-free."""
    from paper2llm_spark.operators.webcomponents import (
        _synth_community_pages, host_components)
    from paper2llm_spark.operators.webgraph import outlinks_frame

    edges_plan = _physical(
        outlinks_frame(_synth_community_pages(spark, "/root/testdata/sf0.01"))
    )
    assert "Join" not in edges_plan
    assert "BatchEvalPython" not in edges_plan
    assert "ArrowEvalPython" not in edges_plan
    hash_exchanges = [
        ln for ln in edges_plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(src_host" in hash_exchanges[0]

    full_plan = _physical(host_components(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in full_plan
    assert "ArrowEvalPython" not in full_plan


def test_charset_sniff_zero_exchange(spark):
    """Charset sniff: the whole operator (synthesis, byte/char counts,
    BOM check, meta pull, precedence CASE) is one codegen projection in
    the scan task — zero exchanges, zero joins, zero Python."""
    from paper2llm_spark.operators.webcharset import charset_sniff

    plan = _physical(charset_sniff(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bte_single_url_exchange_shared_by_all_stages(spark):
    """BTE: synthesis, tokenization and the sign column are scan-side
    codegen; the prefix-sum window, running-min window, page argmax
    window AND the final per-url groupBy all share ONE
    hashpartitioning on url.  No joins, no Python — Kadane distributes
    as windows over short token rows."""
    from paper2llm_spark.operators.webbte import bte_extract

    plan = _physical(bte_extract(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(url" in hash_exchanges[0]


def test_boilerpipe_single_url_exchange(spark):
    """Boilerpipe: synthesis, block split and the word/anchor-word
    counts are scan-side codegen; the block-index window and the
    lag/lead context features share ONE hashpartitioning on url.  No
    joins, no Python."""
    from paper2llm_spark.operators.webpipe import pipe_blocks

    plan = _physical(pipe_blocks(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1, hash_exchanges
    assert "hashpartitioning(url" in hash_exchanges[0]


def test_date_extract_zero_exchange_projection(spark):
    """htmldate cascade: synthesis, regexp pulls, validity CASE and the
    precedence coalesce are ONE codegen projection in the scan task —
    no hash exchange (the round-robin input spread is the only
    movement), no joins, no Python."""
    from paper2llm_spark.operators.webdate import date_extract

    plan = _physical(date_extract(spark, "/root/testdata/sf0.01"))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdx_index_two_exchanges_no_joins(spark):
    """CDX index build: SURT canonicalization is scan-side codegen; the
    only corpus-sized exchange is the map-side-combinable
    groupBy(surt, digest) of short rows; the shard-rank window
    exchanges the already-collapsed index entries.  No joins, no
    Python, scan pruned to the 3 needed columns."""
    from paper2llm_spark.operators.webcdx import cdx_index

    plan = _physical(cdx_index(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 2, hash_exchanges
    keys = {ln.split("hashpartitioning(")[1].split("#")[0]
            for ln in hash_exchanges}
    assert keys == {"surt", "shard"}, hash_exchanges
    # partial min/count run BEFORE the corpus exchange (map-side combine)
    assert "partial_count" in plan and "partial_min" in plan


def test_cascade_url_exchanges_no_python(spark):
    """Cascade: three pruned scans (one per arm — trafilatura's own
    per-document cost), every hash exchange keyed on url (classifier
    windows + arm joins), join strategy left to Catalyst stats, no
    Python anywhere."""
    from paper2llm_spark.operators.webcascade import extract_cascade

    plan = _physical(extract_cascade(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    keys = {
        ln.split("hashpartitioning(")[1].split("#")[0]
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    }
    assert keys == {"url"}, keys
    # the documents scan is pruned to the synth inputs
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan


def test_ocr_garbage_zero_exchange_projection(spark):
    """Rmgarbage: noise synthesis, token split and all six rule counts
    are ONE codegen projection over a staged token array in the scan
    task — no hash exchange, no joins, no Python."""
    from paper2llm_spark.operators.webgarbage import ocr_garbage

    plan = _physical(ocr_garbage(spark, "/root/testdata/sf0.01"))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_trustrank_no_driver_collect_no_python(spark):
    """TrustRank: both vector iterations ride the once-checkpointed
    edge table; total-mass normalization re-enters as a 1-row
    broadcast crossJoin (BroadcastNestedLoopJoin over one row, the
    HITS pattern), never a driver collect; no Python."""
    from paper2llm_spark.operators.webtrust import trustrank

    plan = _physical(trustrank(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # every per-round agg keeps its map-side partial phase
    assert "partial_sum" in plan


def test_cdx_lookup_index_never_reshuffles(spark):
    """Lookup: the query batch broadcasts onto the streaming index; the
    only corpus-sized exchange is the index's own revisit collapse
    (surt), the hit aggregation exchanges query-sized rows, and the
    unused shard-rank window is PRUNED by Catalyst (no shard
    exchange — column pruning reached through the join); no Python."""
    from paper2llm_spark.operators.webcdxlookup import cdx_lookup

    plan = _physical(cdx_lookup(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    keys = {
        ln.split("hashpartitioning(")[1].split("#")[0]
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    }
    assert keys == {"surt", "query_url"}, keys
    assert "Window" not in plan  # idx_in_shard unused -> window pruned
    assert "BroadcastHashJoin" in plan


def test_hyperball_state_rows_are_short_no_python(spark):
    """HyperBall: every per-round merge is a map-side-combinable
    groupBy(node, bucket) of (node, bucket, rho) short rows; the final
    assembly joins (node, bigint) tables; no Python, no cartesian."""
    from paper2llm_spark.operators.webharmonic import harmonic_centrality

    plan = _physical(harmonic_centrality(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan  # register merges keep map-side combine


def test_datasheet_single_corpus_exchange(spark):
    """Datasheet: digest/token/char are scan-side; the corpus exchanges
    only through the (source, lang) cell aggregation (plus Spark's
    two-phase count-distinct expansion on the same keys); the
    per-source roll-up re-enters by broadcast; no Python."""
    from paper2llm_spark.operators.webcard import corpus_datasheet

    plan = _physical(corpus_datasheet(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    keys = {
        ln.split("hashpartitioning(")[1].split(",")[0].split("#")[0]
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    }
    assert keys == {"source"}, keys  # source(+lang) cell agg only


def test_passage_chunks_zero_exchange_generate(spark):
    """Passage chunking: tokenize + count + explode + slice is one
    generate stage inside the scan task — zero joins, zero exchanges,
    zero Python. The explode fan-out stays in the scan stage."""
    from paper2llm_spark.operators.webchunk import passage_chunks

    plan = _physical(passage_chunks(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate explode" in plan  # the fan-out is the plan's only shape


def test_code_detect_zero_exchange_projection(spark):
    """Code-vs-prose: plant, replace-diff symbol counts, keyword LIKEs
    and the verdict CASE are ONE codegen projection — zero exchanges,
    zero joins, zero Python."""
    from paper2llm_spark.operators.webcode import code_detect

    plan = _physical(code_detect(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_table_extract_zero_exchange_projection(spark):
    """HTML table -> Markdown: regex pulls + list HOFs are scan-side
    codegen — zero exchanges, zero joins, zero Python."""
    from paper2llm_spark.operators.webtable import table_extract

    plan = _physical(table_extract(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_canonical_clusters_single_exchange_short_rows(spark):
    """Canonical clustering: ONE hashpartitioning(canonical) exchange;
    min()/count() keep their map-side partial phase (no collect_list),
    and the shuffled rows carry only (canonical, url, flag)."""
    from paper2llm_spark.operators.webcanon import canonical_clusters

    plan = _physical(canonical_clusters(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    hash_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(hash_exchanges) == 1 and "canonical" in hash_exchanges[0]
    assert "partial_min" in plan or "partial" in plan.lower()
    assert "collect_list" not in plan


def test_shingle_novelty_short_row_exchanges_no_joins(spark):
    """Shingle novelty: the distinct + min-window + final 3-row groupBy
    exchange only (doc_id, snap, sh) integer rows — the text column
    never crosses a shuffle, and there are no joins and no Python."""
    from paper2llm_spark.operators.webnovelty import shingle_novelty

    plan = _physical(shingle_novelty(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln


def test_quantile_buckets_bounded_state(spark):
    """Quantile sketch: groupBy(bucket) keeps map-side partial counts
    (<= 64 bucket partials per task regardless of corpus size); the
    cumulative window runs AFTER the collapse, over <= 64 rows; no
    joins, no Python."""
    from paper2llm_spark.operators.webquantile import quantile_buckets

    plan = _physical(quantile_buckets(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_pii_redact_zero_exchange_projection(spark):
    """PII redaction: regexp counts + the 3-deep replace chain are ONE
    codegen projection — zero exchanges, zero joins, zero Python."""
    from paper2llm_spark.operators.webpii import pii_redact

    plan = _physical(pii_redact(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_soft404_zero_exchange_projection(spark):
    """Soft-404 gate: phrase LIKEs + verdict CASEs ride the scan —
    zero exchanges, zero joins, zero Python."""
    from paper2llm_spark.operators.websoft404 import soft404_detect

    plan = _physical(soft404_detect(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_mojibake_zero_exchange_projection(spark):
    """Mojibake repair: marker counts + the 12-deep replace chain are
    ONE codegen projection — zero exchanges, zero joins, zero Python."""
    from paper2llm_spark.operators.webmojibake import mojibake_repair

    plan = _physical(mojibake_repair(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_line_dedup_zero_exchange_hof(spark):
    """Within-doc line dedup is per-document local work: the filter
    HOF runs inside the scan task — zero exchanges, zero joins, zero
    Python (the correct distribution is NO distribution)."""
    from paper2llm_spark.operators.weblinededup import line_dedup

    plan = _physical(line_dedup(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_dehyphenate_zero_exchange_projection(spark):
    """Dehyphenation: the break count + regexp_replace + md5 are ONE
    codegen projection riding the scan — zero exchanges, zero joins,
    zero Python; at 100 TB the cost is a linear regex pass per task."""
    from paper2llm_spark.operators.webdehyph import dehyphenate

    plan = _physical(dehyphenate(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_heading_outline_zero_exchange_hof(spark):
    """Outline extraction is per-document local work: split/filter/
    transform HOFs + explode inside the scan task — zero joins, zero
    exchanges, zero Python (parent resolution never leaves the row)."""
    from paper2llm_spark.operators.weboutline import heading_outline

    plan = _physical(heading_outline(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_template_lines_broadcast_host_counts(spark):
    """Template-line detection: ONE wide exchange for the (host, line)
    groupBy; the per-host page-count table re-enters via broadcast so
    the join adds no exchange; zero Python."""
    from paper2llm_spark.operators.webtemplate import template_lines

    plan = _physical(template_lines(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_df_cap_before_self_join(spark):
    """Broder containment: the df-cap filter must sit BETWEEN the df
    aggregate and the pair self-join (bounded fanout by construction),
    and pair rows carry bigints only — no collect_list buffering."""
    from paper2llm_spark.operators.webcontain import containment_pairs

    plan = _physical(containment_pairs(spark, "/root/testdata/sf0.01"))
    assert "collect_list" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the df-cap aggregate feeds a join (candidate generation is gated)
    assert plan.count("HashAggregate") >= 2, plan


def test_ngram_counts_single_explode_partial_agg(spark):
    """Web-1T n-gram table: the three per-n arrays concatenate before
    ONE explode (one generator in the plan), and the count groupBy
    keeps its map-side partial phase — what shuffles is (gram,
    partial_count), not per-occurrence rows."""
    from paper2llm_spark.operators.webngramtab import ngram_counts

    plan = _physical(ngram_counts(spark, "/root/testdata/sf0.01"))
    assert plan.count("Generate explode") == 1, plan
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redirect_chains_materializes_each_round(spark):
    """Pointer doubling self-joins the map with itself: without
    per-round materialization the lineage doubles per round and m0 is
    recomputed 2^r times.  Each round localCheckpoints, so the FINAL
    plan contains only the terminal probe join over the checkpointed
    map — never the exponentially re-expanded join tree; zero Python."""
    from paper2llm_spark.operators.webredirect import redirect_chains

    plan = _physical(redirect_chains(spark, "/root/testdata/sf0.01"))
    assert plan.count("Join") <= 2, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_features_zero_exchange_projection(spark):
    """URL feature battery: ONE codegen projection riding the scan —
    zero joins, zero exchanges, zero Python."""
    from paper2llm_spark.operators.weburlfeat import url_features

    plan = _physical(url_features(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_semantic_decon_broadcasts_eval_set(spark):
    """Semantic decontamination: the eval set is broadcast (corpus
    scanned once, never shuffled for the join); zero Python."""
    from paper2llm_spark.operators.websemdecon import semantic_decontaminate

    plan = _physical(semantic_decontaminate(spark, "/root/testdata/sf0.01"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_badwords_zero_exchange_projection(spark):
    """C4 badwords gate: planting, token scan, IN-list membership and
    all three outputs in ONE codegen projection — zero exchanges,
    zero joins, zero Python."""
    from paper2llm_spark.operators.webbadwords import badwords_filter

    plan = _physical(badwords_filter(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_homoglyph_zero_exchange_projection(spark):
    """UTS #39 homoglyph scan: script counts, mixed-token HOF, skeleton
    fold and md5 all ride the scan — zero exchanges/joins/Python."""
    from paper2llm_spark.operators.webglyph import homoglyph_scan

    plan = _physical(homoglyph_scan(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bbit_single_pass_no_extra_join(spark):
    """b-bit minhash: both signature families fold from one staged
    shingle-hash array, and the b-bit components ride the band
    self-join — exactly ONE join in the plan (the candidate join),
    no second join to fetch signatures; zero Python."""
    from paper2llm_spark.operators.webbbit import bbit_verified_pairs

    plan = _physical(bbit_verified_pairs(spark, "/root/testdata/sf0.01"))
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert joins == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cocite_edge_list_materialized_once(spark):
    """Co-citation/coupling: the synth+hub edge build is checkpointed
    so both measures and both self-join sides scan the SAME
    materialized edges (Scan ExistingRDD), never re-deriving the
    union+distinct subtree; degree caps are aggregates feeding the
    joins; zero Python."""
    from paper2llm_spark.operators.webcocite import cocitation_pairs

    plan = _physical(cocitation_pairs(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan  # nodes never rescanned
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_opic_rounds_checkpointed(spark):
    """OPIC: per-round state is pinned (localCheckpoint) so the final
    plan reads the round-3 materialization instead of re-executing the
    exponentially re-expanded round tree; zero Python in any round."""
    from paper2llm_spark.operators.webopic import opic_scores

    plan = _physical(opic_scores(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rake_short_row_exchanges_only(spark):
    """RAKE: text is dropped before the first exchange — every
    exchanged row is (doc_id, pos/word) short columns; the word-score
    re-entry join is the only join; zero Python."""
    from paper2llm_spark.operators.webrake import rake_keywords

    plan = _physical(rake_keywords(spark, "/root/testdata/sf0.01"))
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert joins == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # no exchange carries the text column
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_good_turing_second_agg_over_collapsed_rows(spark):
    """Good-Turing: the frequency-of-frequencies groupBy consumes the
    ALREADY COLLAPSED (word, count) table; the r+1 lookup join is over
    the tiny r-table; zero Python."""
    from paper2llm_spark.operators.webgoodturing import good_turing

    plan = _physical(good_turing(spark, "/root/testdata/sf0.01"))
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pmi_bigram_table_materialized_once(spark):
    """PMI: marginals, N, and the scored join all reuse the
    checkpointed bigram table — the corpus-sized explode+groupBy
    appears ONCE (Scan ExistingRDD thereafter); totals re-enter by
    broadcast; zero Python."""
    from paper2llm_spark.operators.webpmi import pmi_collocations

    plan = _physical(pmi_collocations(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_heaps_checkpoint_join_is_broadcast(spark):
    """Heaps curve: the 10-row bound table joins by broadcast nested
    loop (range predicate); the corpus is scanned, collapsed, and never
    re-shuffled for checkpointing; zero Python."""
    from paper2llm_spark.operators.webheaps import heaps_curve

    plan = _physical(heaps_curve(spark, "/root/testdata/sf0.01"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_burstiness_two_short_row_exchanges(spark):
    """Burstiness: per-(doc,word) collapse then per-word fold — both
    map-side combinable, no joins, zero Python."""
    from paper2llm_spark.operators.webburst import word_burstiness

    plan = _physical(word_burstiness(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_keyness_word_table_materialized_once(spark):
    """G² keyness: ONE conditional-sum groupBy(word) carries both
    sides' counts, checkpointed so totals and the scored filter don't
    each re-run the corpus scan (Scan ExistingRDD, no parquet rescan);
    totals re-enter as a 1-row broadcast; zero Python."""
    from paper2llm_spark.operators.webkeyness import keyness_g2

    plan = _physical(keyness_g2(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spearman_no_global_corpus_window(spark):
    """Spearman: ranking is histogram-offset + per-value window — the
    plan must contain NO window without partitioning over corpus rows
    (the single-partition global-sort trap); the only unpartitioned
    window runs over the collapsed value histogram, which arrives
    pre-aggregated (its input subtree contains a HashAggregate);
    zero Python."""
    from paper2llm_spark.operators.webspearman import spearman_signals

    plan = _physical(spearman_signals(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the corpus-sized row_number windows must be PARTITIONED by value
    for line in plan.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "windowspecdefinition(v#" in line, line
    # exactly 3 SinglePartition exchanges: two collapsed-histogram
    # cumsums + the final 1-row fold — never the corpus itself
    assert plan.count("Exchange SinglePartition") == 3, plan


def test_structured_data_zero_exchange(spark):
    """WDC structured data: synthesis + all three extractions in ONE
    codegen projection; zero exchanges/joins/Python."""
    from paper2llm_spark.operators.webwdc import structured_data

    plan = _physical(structured_data(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ccaligned_pivot_collapsed_before_join(spark):
    """CCAligned: the English pivot collapses to one row per key
    (HashAggregate) BEFORE the equi-join, so the join is pivot-sized;
    zero Python."""
    from paper2llm_spark.operators.webccalign import ccaligned_pairs

    plan = _physical(ccaligned_pairs(spark, "/root/testdata/sf0.01"))
    # min(url) over string keys plans as SortAggregate (still partial+final)
    assert "SortAggregate" in plan or "HashAggregate" in plan, plan
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert joins == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hreflang_reuses_cc_machinery(spark):
    """hreflang clusters: edge extraction scan-side, clustering via the
    checkpointed connected-components label table (Scan ExistingRDD);
    zero Python."""
    from paper2llm_spark.operators.webhreflang import hreflang_clusters

    plan = _physical(hreflang_clusters(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_title_spam_zero_exchange(spark):
    """Title-spam battery: one codegen projection, zero exchanges/
    joins/Python."""
    from paper2llm_spark.operators.webtitlespam import title_spam

    plan = _physical(title_spam(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dom_depth_single_url_exchange_no_payload(spark):
    """DOM depth: ONE hashpartitioning(url) exchange shared by the
    prefix-sum window and the per-url fold; the html payload never
    rides an exchange; zero joins/Python."""
    from paper2llm_spark.operators.webdomdepth import dom_depth

    plan = _physical(dom_depth(spark, "/root/testdata/sf0.01"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "html" not in line, line


def test_amp_pairs_short_row_join(spark):
    """AMP pairs: one equi-join over (url, href) short rows — the page
    payload is dropped before the exchange; reciprocity is a column
    compare, not a second join; zero Python."""
    from paper2llm_spark.operators.webamp import amp_pairs

    plan = _physical(amp_pairs(spark, "/root/testdata/sf0.01"))
    joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert joins == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "html" not in line, line


def test_luhn_zero_exchange_hof(spark):
    """Luhn PAN scan: planting, digit-run split, and the per-candidate
    checksum fold all ride the scan — zero exchanges/joins/Python."""
    from paper2llm_spark.operators.webluhn import luhn_scan

    plan = _physical(luhn_scan(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sparse_projection_zero_exchange(spark):
    """Achlioptas projection: 16 literal-sign add-chains in ONE codegen
    projection — no broadcast (matrix lives in the instruction stream),
    zero exchanges/joins/Python."""
    from paper2llm_spark.operators.webrp import sparse_projection

    plan = _physical(sparse_projection(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Broadcast" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_pair_algebra_over_sketch_rows(spark):
    """KMV overlap: one corpus-sized distinct exchange; all pair
    algebra consumes the checkpointed K-row-per-source sketch (Scan
    ExistingRDD), bounded regardless of corpus size; zero Python."""
    from paper2llm_spark.operators.websketchkmv import kmv_overlap

    plan = _physical(kmv_overlap(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcenter_argmax_never_sorts_corpus(spark):
    """Gonzalez k-center: each round's argmax is TakeOrderedAndProject
    (top-1), never a global Sort of the corpus; centers re-enter as
    literals (no join against a center table); zero Python UDFs."""
    from paper2llm_spark.operators.webkcenter import kcenter_seeds
    from pyspark.sql import functions as F
    from paper2llm_spark.operators.webkcenter import _dist2

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    probe = emb.select(
        "vec_id", F.round(_dist2(F.col("v"), [0.0] * 64), 4).alias("md")
    ).orderBy(F.col("md").desc(), F.col("vec_id")).limit(1)
    plan = _physical(probe)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kn_one_corpus_exchange_then_vocab_joins(spark):
    """Kneser-Ney: the train-split bigram groupBy is the ONE
    corpus-sized exchange; context/continuation tables derive from the
    checkpointed collapsed bigram table (Scan ExistingRDD — never a
    second corpus agg); constants re-enter by 1-row broadcast; zero
    Python."""
    from paper2llm_spark.operators.webkn import kn_logprob

    plan = _physical(kn_logprob(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row consts only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one scan of the documents parquet feeds BOTH the train
    # split and the scored corpus branch is impossible (two consumers),
    # but the TRAIN subtree must not rescan: train is checkpointed
    assert plan.count("Scan parquet") <= 2, plan


def test_textrank_rounds_join_checkpointed_edges(spark):
    """TextRank: the bigram groupBy is the one corpus exchange; every
    PR round joins the checkpointed vocabulary-sized edge list (Scan
    ExistingRDD), never re-deriving it from documents; zero Python."""
    from paper2llm_spark.operators.webtextrank import (
        TR_ITERS, textrank_words,
    )

    plan = _physical(textrank_words(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    # the corpus parquet was scanned ONCE, inside the eager edge
    # checkpoint — the final plan (rounds + degree + nodes) reads ONLY
    # the checkpointed vocabulary-sized edge list
    assert plan.count("Scan parquet") == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert TR_ITERS == 3


def test_outlier_fences_collapsed_state_and_broadcast_reentry(spark):
    """Tukey/Hampel fences: the only corpus-sized exchange is the
    groupBy(v) histogram collapse; quartile/MAD windows run over the
    checkpointed collapsed table (Scan ExistingRDD); fence scalars
    re-enter by 1-row broadcast NLJ; no sort-merge join, no Python,
    and no exchange ever carries text."""
    from paper2llm_spark.operators.webtukey import outlier_fences

    plan = _physical(outlier_fences(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_decon_funnel_broadcast_tiers_no_text_exchange(spark):
    """Decontamination funnel: benchmark digests and grams probe as
    BROADCAST hash joins (the eval side is tiny by construction); the
    digest+gram projection is checkpointed once (Scan ExistingRDD);
    reassembly joins move only short signal rows — raw text never
    rides an exchange; zero Python."""
    from paper2llm_spark.operators.webdecon import decontaminate_funnel

    plan = _physical(decontaminate_funnel(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_luhn_summary_shares_dockey_exchanges_no_text_shuffle(spark):
    """Luhn summarization: token rows are short ints keyed by doc —
    neither sentences nor raw text ride an exchange; argmaxes are
    row_number windows, never global sorts; zero Python."""
    from paper2llm_spark.operators.websummary import luhn_summary

    plan = _physical(luhn_summary(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" in plan, plan     # n_sents base checkpoint
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line and "sent#" not in line, line


def test_lpa_rounds_consume_checkpointed_adjacency(spark):
    """LPA: the adjacency materializes once (Scan ExistingRDD); every
    round is equi-join + count + rank-1 row_number window over 2-3
    bigint rows; no global Sort of anything, zero Python."""
    from paper2llm_spark.operators.weblpa import lpa_communities

    plan = _physical(lpa_communities(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan


def test_split_assign_zero_exchange_projection(spark):
    """Hash split: one codegen projection on the scan — no exchange,
    no join, no Python."""
    from paper2llm_spark.operators.websplit import split_assign

    plan = _physical(split_assign(spark, "/root/testdata/sf0.01"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_texttile_fanout_rides_collapsed_counts(spark):
    """TextTiling: the K-fanout explode multiplies only the COLLAPSED
    (doc, seq, term, count) rows (checkpoint -> Scan ExistingRDD);
    raw text/tokens never ride an exchange; zero Python."""
    from paper2llm_spark.operators.webtile import texttile

    plan = _physical(texttile(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_ams_single_vocab_exchange_no_fanout(spark):
    """AMS F2: one corpus-sized exchange (term groupBy); all 16
    estimators are conditional sums in ONE aggregate over the
    collapsed vocabulary — no joins, no row fanout, zero Python."""
    from paper2llm_spark.operators.webams import ams_f2

    plan = _physical(ams_f2(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagination_doubling_rounds_short_rows(spark):
    """Wyllie list ranking: page payload dropped before the first
    exchange; each doubling round is a self-equi-join of 3-column
    rows; zero Python."""
    from paper2llm_spark.operators.webpager import pagination_chains

    plan = _physical(pagination_chains(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def test_cusum_state_is_hour_grid_not_events(spark):
    """CUSUM: the hourly groupBy is the one event-scale exchange; both
    running windows and the spine live on |types| x |hours| rows; the
    events payload (props/value) never rides an exchange; zero
    Python."""
    from paper2llm_spark.operators.webcusum import cusum_anomaly

    plan = _physical(cusum_anomaly(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "props" not in line and "value" not in line, line


def test_silhouette_single_exchange_literal_centroids(spark):
    """Silhouette: centroids live in the instruction stream — one
    codegen projection plus ONE groupBy(cell) exchange; no joins, no
    broadcast, zero Python."""
    from paper2llm_spark.operators.websilhouette import ann_silhouette

    plan = _physical(ann_silhouette(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_waves_consume_checkpointed_adjacency(spark):
    """k-core peeling: adjacency materializes once (Scan ExistingRDD);
    each wave is equi-joins + a map-side count over bigint pairs; zero
    Python, no cartesian products."""
    from paper2llm_spark.operators.webkcore import kcore_membership

    plan = _physical(kcore_membership(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """THE bucketing claim: joining two tables bucketed+sorted on the
    join key runs as a sort-merge with ZERO Exchange on either side —
    the nightly signal-join shuffle deleted by storage layout."""
    from paper2llm_spark.operators.websinkbucket import bucketed_join

    plan = _physical(bucketed_join(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_triangle_wedges_on_oriented_arc_checkpoint(spark):
    """Triangle counting: adjacency and oriented arcs materialize once
    (Scan ExistingRDD); wedges/closure are equi-joins of 2-3 bigint
    rows; no cartesian products, zero Python."""
    from paper2llm_spark.operators.webtriangle import triangle_counts

    plan = _physical(triangle_counts(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vad_samples_never_exist_as_rows(spark):
    """VAD: synthesis + energy fold run in ONE vectorized Arrow pass
    (the webcdc seam discipline — the interpreted HOF fold measured
    56 s at sf0.1, the Arrow batch 2.5 s); only the 8 frame energies
    per doc ever become rows; no row-at-a-time Python."""
    from paper2llm_spark.operators.webvad import audio_vad

    plan = _physical(audio_vad(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" in plan  # the left join back is doc-keyed short rows
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line


def test_wilson_single_host_exchange(spark):
    """Wilson hosts: pass flag is scan-side; ONE groupBy(host)
    collapse; the bound is arithmetic on collapsed rows — no joins,
    zero Python."""
    from paper2llm_spark.operators.webwilson import wilson_hosts

    plan = _physical(wilson_hosts(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_assortativity_exact_integer_no_python(spark):
    """Assortativity: degree re-entry joins + ONE global agg of bigint
    sums; no cartesian product, zero Python."""
    from paper2llm_spark.operators.webassort import degree_assortativity

    plan = _physical(degree_assortativity(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seed_distance_pregel_rounds_short_rows(spark):
    """Seed BFS: checkpointed adjacency (Scan ExistingRDD); each round
    one equi-join + map-side min-agg + left-join merge of 2-bigint
    rows; zero Python."""
    from paper2llm_spark.operators.webseed import seed_distance

    plan = _physical(seed_distance(spark, "/root/testdata/sf0.01"))
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_benford_digit_collapse_single_chain(spark):
    """Benford: digit extraction is scan-side HOFs; groupBy(source,
    digit) collapses the corpus to <=9*|sources| rows before the
    pivot; no joins, zero Python."""
    from paper2llm_spark.operators.webbenford import benford_profile

    plan = _physical(benford_profile(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ql_candidate_bounded_densification(spark):
    """QL: the zero-tf densification joins the candidate set (|cands|
    x 3 query terms), never the corpus; cf/df re-enter broadcast; zero
    Python; text never rides an exchange."""
    from paper2llm_spark.operators.webql import ql_topk

    plan = _physical(ql_topk(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_rrf_consumes_k_bounded_lists(spark):
    """RRF: fusion input is two K-bounded rank lists — union + groupBy
    + one window over |queries| x 2K rows; zero Python."""
    from paper2llm_spark.operators.webql import rrf_fusion

    plan = _physical(rrf_fusion(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_dhash_pairs_arrow_once_short_band_rows(spark):
    """mm_dhash_pairs: the Arrow decode seam runs ONCE on the scan
    side (plant + bands reuse its output, never re-decode); the band
    self-join keys on (band, chunk) short rows; text never rides an
    exchange; no row-at-a-time Python."""
    from paper2llm_spark.operators.mmdup import mm_dhash_pairs

    plan = _physical(mm_dhash_pairs(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan
    # the hash table is a lazy localCheckpoint (r5: released by the
    # ContextCleaner when the result drops, unlike the old pinned
    # persist) — every consumer (plant + both join sides) scans the
    # SAME checkpointed RDD, so the Arrow decode executes once and
    # MapInPandas never reappears in the downstream plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line and "payload" not in line, line


def test_shot_boundaries_single_doc_exchange_no_python(spark):
    """mm_shot_boundaries: frames are generated scan-side (explode of
    sequence — never materialized wider than 3 bigints) and the ONLY
    exchange is the hashpartitioning(doc_id) lag window; zero Python."""
    from paper2llm_spark.operators.mmdup import mm_shot_boundaries

    plan = _physical(mm_shot_boundaries(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Join" not in plan
    ex = [line for line in plan.splitlines() if "Exchange hashpartitioning" in line]
    assert len(ex) == 1 and "doc_id" in ex[0], ex


def test_index_bits_adds_no_exchange_over_postings(spark):
    """search_index_bits: every bit sum folds in the projection over
    the postings frame — the postings dataflow's two hash exchanges
    (tf groupBy, collect groupBy) are the ONLY exchanges; n_docs
    re-enters broadcast; zero Python."""
    from paper2llm_spark.operators.webindex import index_postings
    from paper2llm_spark.operators.webindexbits import index_bits

    base = _physical(index_postings(spark, "/root/testdata/sf0.01"))
    plan = _physical(index_bits(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    n_base = sum("Exchange hashpartitioning" in l for l in base.splitlines())
    n_bits = sum("Exchange hashpartitioning" in l for l in plan.splitlines())
    assert n_bits == n_base, (n_base, n_bits)
    assert "BroadcastExchange" in plan


def test_calibration_distributed_ranking_no_global_sort(spark):
    """ml_calibration_bins: classifier score and Gopher label are both
    pure functions of text, fused into ONE scan projection; deciles
    come from the shared distributed ranking (functions/ranking.py) —
    NO ntile and no single-partition window over per-doc rows (the
    round-4 plan audit's fix #2).  The only SinglePartition exchanges
    are the collapsed-histogram cumsum and the 1-row total count;
    zero Python.  (The scored-vs-rank doc_id join recomputes the scan
    statically; AQE ReusedExchange dedups it at runtime.)"""
    from paper2llm_spark.operators.webcalib import calibration_bins

    plan = _physical(calibration_bins(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ntile" not in plan, plan
    # corpus-sized row_number windows must be PARTITIONED by value
    for line in plan.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "windowspecdefinition(v#" in line, line
    assert plan.count("Exchange SinglePartition") == 2, plan


def test_pack_efficiency_collapses_before_exchange(spark):
    """corpus_pack_efficiency: all 4 context sizes fold into ONE
    map-side partial aggregate — a single one-row exchange, output
    rows exploded from the aggregated row; zero joins/Python."""
    from paper2llm_spark.operators.webpack import pack_efficiency

    plan = _physical(pack_efficiency(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Scan parquet") == 1


def test_hard_negatives_broadcast_anchor_pass(spark):
    """ann_hard_negatives: the anchor set broadcasts onto the vector
    table (one corpus pass evaluates every pair); the two rankings key
    their windows on anchor_id short rows; zero Python."""
    from paper2llm_spark.operators.webhardneg import hard_negatives

    plan = _physical(hard_negatives(spark, "/root/testdata/sf0.01"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2 and all("anchor_id" in l for l in ex), ex


def test_host_gini_one_corpus_exchange_text_pruned(spark):
    """web_host_gini: the corpus collapses in ONE map-side-combinable
    groupBy(host); rank + fold run on the |hosts|-bounded table with
    (n, T) broadcast back; text never read."""
    from paper2llm_spark.operators.webgini import host_gini

    plan = _physical(host_gini(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan
    # the groupBy(host) collapse is persisted: every appearance of its
    # hash exchange must be the echo of the SAME cached relation
    # every hash exchange is the host collapse (possibly echoed by the
    # cached relation; once materialized the echo may print without it)
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("host" in l for l in ex), ex
    assert "InMemoryRelation" in plan and plan.count("InMemoryTableScan") >= 2
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "text" not in line, line


def test_pr_curve_collapses_before_exchange(spark):
    """ml_pr_curve: all thresholds fold into ONE map-side partial
    aggregate over the fused scan projection; one one-row exchange;
    zero joins/Python; single scan."""
    from paper2llm_spark.operators.webpr import pr_curve

    plan = _physical(pr_curve(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Scan parquet") == 1


def test_pq_distortion_collapses_before_exchange(spark):
    """ann_pq_distortion: encode + error are scan-side codegen over the
    staged distance arrays; all subspaces fold into ONE map-side
    partial aggregate; one one-row exchange; zero joins/Python."""
    from paper2llm_spark.operators.webpqdist import pq_distortion

    plan = _physical(pq_distortion(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("Scan parquet") == 1


def test_pps_single_host_collapse_then_bounded_window(spark):
    """corpus_pps_sample: one corpus exchange (groupBy(host) byte
    collapse); cumsum + multiplicity run on the |hosts| table with T
    broadcast; text never read; zero Python."""
    from paper2llm_spark.operators.webpps import pps_sample

    plan = _physical(pps_sample(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan
    # the groupBy(host) collapse is persisted: any hash-exchange line
    # is the cached relation's echo (absent once materialized), and
    # both consumers read the cache
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("host" in l for l in ex), ex
    assert "InMemoryRelation" in plan and plan.count("InMemoryTableScan") >= 2
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "text" not in line, line


def test_langid_confusion_label_rides_scan_row(spark):
    """ml_langid_confusion: the true label and the prediction come off
    the SAME scan row (zero joins); one corpus exchange on
    (lang, pred_lang); row totals via a window on the bounded cell
    table; zero Python."""
    from paper2llm_spark.operators.webconfusion import langid_confusion

    plan = _physical(langid_confusion(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exchange 1 (corpus-sized input): groupBy(lang, pred_lang);
    # exchange 2 (|cells| rows only): the window's partitionBy(lang)
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 2, ex
    assert any("pred_lang" in l for l in ex), ex
    assert plan.count("Scan parquet") == 1


def test_cluster_stats_adds_short_collapses_only(spark):
    """dedup_cluster_stats: on top of the composed cluster chain it
    adds only the groupBy(cluster) and groupBy(size) short-row
    collapses plus a 1-row broadcast — no new Python stage."""
    from paper2llm_spark.operators.webdupstats import cluster_stats

    plan = _physical(cluster_stats(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    cl = [l for l in plan.splitlines()
          if "Exchange hashpartitioning(cluster" in l
          or "Exchange hashpartitioning(s#" in l]
    assert cl, plan


def test_markov_single_user_window_then_cell_collapse(spark):
    """events_markov_transitions: one corpus exchange — the
    hashpartitioning(user_id) lag window with value/props pruned;
    the cell collapse and row totals ride bounded tables; zero
    joins/Python."""
    from paper2llm_spark.operators.webmarkov import markov_transitions

    plan = _physical(markov_transitions(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "value" not in line, line
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert any("user_id" in l for l in ex), ex


def test_snippets_result_set_broadcast_never_corpus(spark):
    """search_snippets: the window fold runs only on the rank-1 result
    rows — both the (query, doc) pairs and the query-term arrays reach
    the doc scan by BROADCAST; no sort-merge join; zero Python."""
    from paper2llm_spark.operators.websnippet import snippets

    plan = _physical(snippets(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_recall_joins_k_bounded_lists(spark):
    """ann_recall_audit: the audit layer joins K-bounded rank lists
    with the truth set broadcast — no sort-merge join anywhere, no
    Python; the heavy lifting is the composed rankers' own."""
    from paper2llm_spark.operators.webrecall import ann_recall

    plan = _physical(ann_recall(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_distributed_ranking_props_pruned(spark):
    """events_rfm_segments: the map-side groupBy(user_id) rollup is the
    one corpus-sized exchange (statically repeated per rank subtree;
    AQE ReusedExchange dedups the identical rollup at runtime —
    verified 10 ReusedExchange nodes in the final adaptive plan);
    quintiles come from the shared distributed ranking — NO ntile, no
    single-partition window over per-user rows (round-4 plan audit fix
    #3); props/event_type never read; zero Python."""
    from paper2llm_spark.operators.webrfm import (
        rfm_segments, rfm_segments_frame,
    )

    # un-checkpointed frame: the pruning + window-shape contract
    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    plan = _physical(rfm_segments_frame(events))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ntile" not in plan, plan
    for line in plan.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "windowspecdefinition(v#" in line, line
    schemas = plan.split("ReadSchema: ")[1:]
    assert schemas, plan
    for read_schema in schemas:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "event_type" not in line, line
    # every hash exchange keys on user_id or a rank value column —
    # per-user short rows, distributed
    for l in plan.splitlines():
        if "Exchange hashpartitioning" in l:
            assert "user_id" in l or "v#" in l, l
    # driver-facing wrapper: the rollup is a lazy localCheckpoint the
    # three rank paths + final join all scan (computed once)
    wplan = _physical(rfm_segments(spark, "/root/testdata/sf0.01"))
    assert wplan.count("Scan ExistingRDD") >= 4, wplan


def test_cer_zero_exchange_codegen_projection(spark):
    """text_cer_audit: normalize + corrupt + levenshtein are one
    codegen projection — zero exchanges beyond the input repartition,
    zero joins, zero Python."""
    from paper2llm_spark.operators.webcer import cer_audit

    plan = _physical(cer_audit(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan


def test_minhash_error_pairs_broadcast_onto_shingles(spark):
    """sketch_minhash_error: the verified pair list broadcasts onto
    the shingle table on both sides — no sort-merge join; the audit
    adds zero Python."""
    from paper2llm_spark.operators.webmherr import minhash_error

    plan = _physical(minhash_error(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lifecycle_single_window_pass_pruned_scan(spark):
    """events_lifecycle_states: lag and lead share ONE
    hashpartitioning(user_id) window pass over the distinct activity
    cells; churn rows are projections of the same pass (no self-join);
    props/value/event_type never read."""
    from paper2llm_spark.operators.weblifecycle import lifecycle_states

    plan = _physical(lifecycle_states(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "event_type" not in line, line
    assert plan.count("Window") <= 2  # one logical pass (AQE may echo)


def test_query_expansion_result_set_broadcast(spark):
    """search_query_expansion: the top-K pairs, the query-term
    anti-set and the df table all reach the dataflow by BROADCAST —
    no sort-merge join; zero Python."""
    from paper2llm_spark.operators.webexpand import query_expansion

    plan = _physical(query_expansion(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rank_eval_broadcast_qrels_no_python(spark):
    """search_rank_eval: qrels and totals re-enter the K-bounded rank
    lists by BROADCAST; the audit adds no sort-merge join and no
    Python on top of the composed rankers."""
    from paper2llm_spark.operators.webrankeval import rank_eval

    plan = _physical(rank_eval(spark, "/root/testdata/sf0.01"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ab_lift_single_user_collapse(spark):
    """events_ab_lift: one corpus exchange — the map-side
    groupBy(user_id) conversion rollup with the arm as a pure hash of
    the key; zero joins, zero Python; value/props/ts never read."""
    from paper2llm_spark.operators.webab import ab_lift

    plan = _physical(ab_lift(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "value" not in line, line
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex) == 1 and "user_id" in ex[0], ex


def test_rouge_audit_join_short_rows_no_python(spark):
    """text_rouge_audit: the audit joins the summarizer's per-doc
    result onto the re-segmented scan on doc_id — short rows both
    sides; zero Python anywhere."""
    from paper2llm_spark.operators.webrouge import rouge_audit

    plan = _physical(rouge_audit(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_top_paths_capped_before_string_no_joins(spark):
    """events_top_paths: one hashpartitioning(user_id) session pass
    (props/value pruned), cap applied by slice before the path string
    exists, top-N compiles to TakeOrderedAndProject; total re-enters
    broadcast; zero Python."""
    from paper2llm_spark.operators.webpaths import top_paths

    plan = _physical(top_paths(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "value" not in line, line


def test_span_corruption_zero_exchange_scan_fold(spark):
    """corpus_span_corruption: starts, mask union and sentinel fold are
    all codegen HOFs in ONE scan projection — zero exchanges beyond
    the input repartition, zero joins, zero Python."""
    from paper2llm_spark.operators.webspan import span_corruption

    plan = _physical(span_corruption(spark, "/root/testdata/sf0.01"))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan


def test_cohort_ltv_shares_user_partitioning(spark):
    """events_cohort_ltv: the (user, week) rollup and the min-week
    cohort window share hashpartitioning(user_id); later stages ride
    |weeks|^2 tables with sizes broadcast; props/event_type pruned."""
    from paper2llm_spark.operators.webltv import cohort_ltv

    plan = _physical(cohort_ltv(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "event_type" not in line, line


def test_ball_audit_short_row_joins_no_python(spark):
    """web_hyperball_audit: exact balls via short-row (node, member)
    equi-joins on the checkpointed edges; the composed HyperBall
    rounds do the sketch work; zero Python."""
    from paper2llm_spark.operators.webballaudit import ball_audit

    plan = _physical(ball_audit(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_self_bleu_sample_filter_pushed(spark):
    """corpus_self_bleu: the sample predicate reaches the parquet scan;
    the gram df table re-enters by broadcast; zero Python."""
    from paper2llm_spark.operators.webselfbleu import self_bleu

    plan = _physical(self_bleu(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "doc_id" in pushed, pushed
    assert "BroadcastHashJoin" in plan


def test_doremi_collapses_to_source_rows(spark):
    """corpus_doremi_weights: the LM pipeline is the composed cost;
    the mixture math lives on |sources| rows with global mean and
    normalizer as 1-row broadcasts; zero Python."""
    from paper2llm_spark.operators.webdoremi import doremi_weights

    plan = _physical(doremi_weights(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_stickiness_single_grid_collapse(spark):
    """events_stickiness: one corpus exchange — the (user, week)
    distinct; the 4x MAU expansion rides the collapsed grid and the
    week universe joins broadcast; props/value/event_type pruned."""
    from paper2llm_spark.operators.webstickiness import stickiness

    plan = _physical(stickiness(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "event_type" not in line, line


def test_canary_plant_is_narrow_union_no_python(spark):
    """privacy_canary_audit: the plant is a narrow union feeding the
    composed span pipeline's own exchanges; the audit joins per-doc
    rollups on doc_id short rows; zero Python."""
    from paper2llm_spark.operators.webcanary import canary_audit

    plan = _physical(canary_audit(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Union" in plan


def test_seasonal_naive_single_type_hour_collapse(spark):
    """events_seasonal_naive: one corpus exchange — the map-side
    groupBy(event_type, hour); the dense grid / shift / scoring ride
    broadcast small tables; props/value/user_id pruned."""
    from paper2llm_spark.operators.webseasonal import seasonal_naive

    plan = _physical(seasonal_naive(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    for read_schema in plan.split("ReadSchema: ")[1:]:
        line = read_schema.splitlines()[0]
        assert "props" not in line and "user_id" not in line, line


def test_rank_corr_short_row_windows_no_python(spark):
    """web_rank_correlation: the solvers do the graph work; the audit
    ranks (node, bigint) short rows via the shared distributed ranking
    — every row_number window PARTITIONED by value, never a global
    node-table sort (round-4 plan audit fix #3) — and collapses to 2
    rows; zero Python."""
    from paper2llm_spark.operators.webrankcorr import rank_correlation

    plan = _physical(rank_correlation(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ntile" not in plan, plan
    for line in plan.splitlines():
        if "row_number() windowspecdefinition" in line:
            assert "windowspecdefinition(v#" in line, line


def test_shot_stats_composed_window_plus_short_join(spark):
    """mm_shot_stats: the composed detector's doc_id window is the
    cost; the audit adds a bounded per-doc boundary collect and a
    doc_id left join; zero Python; no sort-merge join."""
    from paper2llm_spark.operators.webshotstats import shot_stats

    plan = _physical(shot_stats(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("doc_id" in l for l in ex), ex


def test_fertility_rollup_map_side_no_python(spark):
    """corpus_fertility_by_lang: the BPE apply is the composed cost;
    the rollup joins per-doc rows on doc_id and collapses map-side to
    |langs| rows; zero Python."""
    from paper2llm_spark.operators.webfertility import fertility_by_lang

    plan = _physical(fertility_by_lang(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chain_audit_broadcast_verified_pairs(spark):
    """dedup_chain_audit: within-cluster pairs are enumerated on the
    band-capped cluster membership; the verified pair list re-enters
    by broadcast; zero Python."""
    from paper2llm_spark.operators.webchain import chain_audit

    plan = _physical(chain_audit(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_fpr_broadcast_digests_one_row_out(spark):
    """sketch_bloom_fpr: the composed prefilter's broadcast bit-set
    join probes; the audit anti-joins the broadcast member digests and
    collapses to one row; zero Python."""
    from paper2llm_spark.operators.webbloomfpr import bloom_fpr

    plan = _physical(bloom_fpr(spark, "/root/testdata/sf0.01"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
