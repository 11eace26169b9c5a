"""Physical-plan shape assertions — the scale contract, checked in CI:
filters reach the scan, small sides broadcast, aggregations have
map-side partial phases, and the hot expressions stay inside
whole-stage codegen. A regression here is a 100-TB regression even
when results stay correct."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_doc_filter_pushes_to_parquet_scan(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(F.col("doc_id") < 100)
          .select("doc_id", "n_chars"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" \
        in plan
    # column pruning: only the 2 projected columns are read
    assert "ReadSchema: struct<doc_id:bigint,n_chars" in plan


def test_knn_bruteforce_two_phase_topk(spark):
    """The corpus is scanned once by an Arrow stage that emits only
    per-batch top-k candidates; no join materializes corpus × queries
    and the final Window ranks candidates, not the full score table."""
    from docling_spark.operators.similarity import knn_bruteforce
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    out = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3)
    plan = _plan(out)
    assert "Join" not in plan  # no corpus × query product, ever
    assert "MapInPandas" in plan
    # the window's input is the candidate stream from the Arrow stage
    assert plan.index("Window") < plan.index("MapInPandas")


def test_ivf_index_build_never_shuffles(spark):
    """ivf_assign is one Arrow argmax pass: no Exchange, no Window, no
    Join in the index build (round-1 regression: ×n_cells explode +
    per-vector window)."""
    from docling_spark.operators.similarity import ivf_assign
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    plan = _plan(ivf_assign(emb, n_cells=8))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_ivf_quantizer_requires_enough_centroids(spark):
    import pytest
    from docling_spark.operators.similarity import ivf_assign
    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "embedding").filter(F.col("vec_id") < 3))
    with pytest.raises(ValueError, match="quantizer"):
        ivf_assign(emb, n_cells=8)


def test_minhash_has_partial_aggregation(spark):
    from docling_spark.operators.dedup import (
        exploded_shingles,
        minhash_signatures_indep,
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text")
    sigs = minhash_signatures_indep(exploded_shingles(docs))
    plan = _plan(sigs)
    # two HashAggregate nodes (partial + final) around one exchange on
    # doc_id, min() on primitive longs — never sort-based aggregation
    # (AQE shows codegen annotations only post-execution, so assert on
    # the aggregate strategy instead)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("partial_min") >= 16
    assert "SortAggregate" not in plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1


def test_extraction_prefilters_stay_under_python_node(spark):
    from docling_spark.operators.extract import extract_routed
    from docling_spark.sources.corpus import corpus_from_documents
    corpus = corpus_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_routed(corpus, allowed_kinds=["html"],
                         max_payload_chars=1_000_000, routes={"doc": 1})
    plan = _optimized(out)
    py_idx = (plan.index("MapInArrow") if "MapInArrow" in plan
              else plan.index("MapInPandas"))
    # the doc path is the union's last child, so its subtree follows
    # the Python node in the plan text; its first Filter holds both
    # gates: allowed_kinds as exists(), the size gate as aggregate()
    below = plan[py_idx:].splitlines()
    gate = next(line for line in below if "Filter" in line)
    assert "exists(" in gate and "aggregate(" in gate


def test_export_is_pure_projection(spark):
    from docling_spark.operators.export import export_markdown
    from docling_spark.operators.extract import extract_spans
    from docling_spark.sources.corpus import corpus_from_documents
    corpus = corpus_from_documents(spark, "/root/testdata/sf0.001")
    out = export_markdown(extract_spans(corpus))
    plan = _plan(out)
    # no exchange between extraction and the rendered output: the sink
    # renderer must not introduce a shuffle
    python_idx = (plan.index("MapInArrow") if "MapInArrow" in plan
                  else plan.index("MapInPandas"))
    assert "Exchange" not in plan[:python_idx]


def test_sessionize_single_shuffle_per_key(spark):
    import __spark_entry__ as e
    df = e.q_events_sessionize(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # one hash exchange on user_id feeds both the window and the final
    # aggregation (no second shuffle on the same key)
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_enrichment_filters_before_python_stage(spark):
    from docling_spark.operators.enrich import enrich_spans
    df = spark.createDataFrame(
        [("d1", [("code", "def f(): pass", "", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    plan = _optimized(enrich_spans(df))
    # the processable-kind gate runs before the Arrow stage, and the
    # enrichment pass introduces no shuffle at all
    assert plan.index("Filter") > plan.index("MapInPandas")
    assert "kind IN (code,formula,picture)" in plan
    assert "Exchange" not in plan


def test_tpch_q5_broadcasts_all_dimensions(spark):
    import __spark_entry__ as e
    plan = _plan(e.queries()["tpch_q5_local_supplier"](
        spark, "/root/testdata/sf0.001"))
    # every dimension ships as a broadcast; the only shuffle joins are
    # the lineitem-orders equi-join and the final aggregation exchange
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1


def test_dedup_outputs_have_no_global_sort(spark):
    """The driver's value hash is order-insensitive, so the dedup pair
    tables must not pay a range-partition sort at the end (round-1
    regression)."""
    from docling_spark.operators.dedup import embedding_dedup, minhash_dedup
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    plan = _plan(minhash_dedup(docs, threshold=0.5))
    assert "rangepartitioning" not in plan
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    plan = _plan(embedding_dedup(emb, threshold=0.9))
    assert "rangepartitioning" not in plan


def test_page_cells_stays_page_parallel(spark):
    """The cells-verification surface (verify_cells analogue) never
    reassembles documents: no Exchange besides the explicit input
    repartition, no aggregation, one MapInPandas stage."""
    from docling_spark.operators.extract import page_cells
    from docling_spark.sources.corpus import corpus_pdf_pages
    corpus = corpus_pdf_pages(spark, "/root/testdata/sf0.001")
    plan = _plan(page_cells(corpus))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_exact_sniff_is_one_arrow_stage(spark):
    """The exact format probe is a single scalar Arrow stage over the
    scan — no shuffle, no Python row-at-a-time eval."""
    from pyspark.sql import functions as F
    from docling_spark.operators.sniff_exact import with_exact_format
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", F.encode("text", "UTF-8").alias("payload_bin"),
                    F.lit("a.md").alias("filename")))
    plan = _plan(with_exact_format(docs))
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_simhash_pairs_is_bucket_equijoin(spark):
    """Candidate generation must be the band-value equijoin — no
    cartesian/broadcast-nested-loop product of the corpus with itself —
    and the signature aggregation keeps its map-side partial phase."""
    from docling_spark.operators.dedup import simhash_pairs
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    plan = _plan(simhash_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_curate_pipeline_shape(spark):
    """The composed curation plan: gates are one projection over the
    scan (no shuffle below the fingerprint window), candidates come
    from the band equijoin (no product), and the final anti-join is a
    real anti-join."""
    from docling_spark.operators.curate import curate
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    out = curate(docs)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan
    # the gates filter above the exact-dedup window on the materialized
    # signals; pushed into the scan projection they re-tokenize
    assert not [line for line in _optimized(out).splitlines()
                if "Filter" in line and "regexp_replace" in line]


def test_int8_quantizer_is_pure_catalyst(spark):
    """Quantization must not add a Python stage or a shuffle; the int8
    knn keeps the two-phase no-join scan shape."""
    from pyspark.sql import functions as F
    from docling_spark.operators.similarity import (
        knn_bruteforce_int8,
        quantize_embeddings,
    )
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    qplan = _plan(quantize_embeddings(emb))
    assert "EvalPython" not in qplan  # no Arrow/Batch python node
    assert "Exchange" not in qplan
    plan = _plan(knn_bruteforce_int8(emb, emb.filter(F.col("vec_id") < 5)))
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_source_gate_is_broadcast_and_agg_is_partial(spark):
    """Domain gating never shuffles the corpus: the reputation table
    broadcasts into a LeftSemi hash join, and the reputation groupBy
    itself has a map-side partial phase."""
    from docling_spark.operators.curate import (gate_by_source,
                                                source_reputation)
    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source"))
    rep = source_reputation(docs)
    rep_plan = _plan(rep)
    # two-phase aggregate: partial_ markers before the final merge
    assert "partial_" in rep_plan
    gated = gate_by_source(docs, rep)
    plan = _plan(gated)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # the docs side reaches the join without an Exchange of its own
    assert "SortMergeJoin" not in plan


def test_boilerplate_lines_shape(spark):
    """Line dedup is explode → df-agg → equijoin → one doc reassembly:
    no sort-merge join (AQE broadcasts the frequent-line table at this
    size), no global Sort (order is restored by array_sort inside the
    per-doc aggregate), partial aggregation on the doc regroup."""
    from docling_spark.operators.curate import dedup_boilerplate_lines
    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", F.concat(F.lit("header line here\n"),
                                   F.col("text")).alias("text")))
    out = dedup_boilerplate_lines(docs)
    plan = _plan(out)
    assert "Generate explode" in plan or "Generate posexplode" in plan
    assert "partial_" in plan
    # no global Sort node: reassembly sorts inside the aggregate
    assert "\nSort " not in plan and "+- Sort " not in plan


def test_pq_encode_never_shuffles(spark):
    """PQ encoding is one Arrow pass against the broadcast codebook —
    no Exchange, no Join, no Window (same index-build contract as
    ivf_assign)."""
    from docling_spark.operators.similarity import pq_encode
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    plan = _plan(pq_encode(emb))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_knn_pq_is_two_phase_scan(spark):
    """ADC scoring scans the codes table once; no join materializes
    corpus x queries."""
    from docling_spark.operators.similarity import knn_pq
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    out = knn_pq(emb, emb.filter(F.col("vec_id") < 5), k=3)
    plan = _plan(out)
    assert "Join" not in plan
    assert "MapInPandas" in plan


def test_kmeans_assign_pass_never_shuffles(spark):
    """The k-means assign stage is one Arrow pass against broadcast
    centroids — the final assignment plan has no Exchange/Join/Window
    (the update-step aggregation runs as its own bounded job per
    iteration)."""
    from docling_spark.operators.clustering import kmeans_assign
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    plan = _plan(kmeans_assign(emb, k=4, iters=1))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_dedup_substrings_plan_shape(spark):
    """Substring dedup stays sort-free and window-free: the repeated-
    fingerprint table joins back BROADCAST, every aggregation is
    hash-based with a map-side partial, and reassembly is the
    collect_list idiom (ObjectHashAggregate), not a global sort."""
    from docling_spark.operators.substring import dedup_substrings
    docs = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text"))
    plan = _plan(dedup_substrings(docs, k=8, min_df=2))
    assert "Window" not in plan
    assert "SortAggregate" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_semdedup_is_grouped_matmul_not_pair_join(spark):
    """SemDeDup scoring is ONE grouped Arrow stage per cluster (each
    vector shuffles once); never a pair join materializing O(n²/k)
    rows of embedding copies, and never a cartesian product. The
    k-means assign inside stays the zero-shuffle Arrow pass."""
    from docling_spark.operators.clustering import semdedup
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    plan = _plan(semdedup(emb, k=4, iters=2, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "ArrowEvalPython" in plan  # the k-means assign
    # r3: the fit_assign frame carries the embedding, so there is no
    # vec_id glue join at all — semdedup is scan → assign → grouped
    # matmul, fully join-free
    assert "Join" not in plan


def test_kmeans_iter_loop_caches_source(spark):
    """The Lloyd loop persists the projected input before the first
    UPDATE action, so every subsequent iteration (and the final assign
    pass) reads the cache, not the source — the plan of the returned
    frame scans InMemoryTableScan, proving iterations don't re-run
    upstream lineage (one corpus scan total, not one per iteration)."""
    from docling_spark.operators.clustering import kmeans_fit_assign
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding")
    out = kmeans_fit_assign(emb, k=4, iters=3)
    plan = _plan(out)
    # the scan node is InMemoryTableScan (the FileScan that also
    # prints belongs to the InMemoryRelation's cached-plan definition,
    # not a second live read)
    assert "InMemoryTableScan" in plan
    assert out.columns == ["vec_id", "embedding", "cluster"]


def test_dedup_components_truncates_lineage(spark):
    """Label propagation localCheckpoints every checkpoint_interval
    rounds: on a long-chain graph (diameter ≫ interval) the returned
    labels' plan is a flat scan of the checkpointed RDD — NOT an
    O(rounds) join tower — so analysis time and task binaries stay
    bounded however deep the graph is."""
    from docling_spark.operators.dedup import dedup_components
    # path graph 0-1-2-...-11: diameter 11, needs ~11 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long")
    labels = dedup_components(pairs, checkpoint_interval=2)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(12)}  # one component, min id 0
    plan = _plan(labels)
    # converged round count (~11) ≫ interval (2): the last checkpoint
    # is at most 2 rounds back, so the plan holds ≤2 rounds of joins
    # (2 joins each, AQE prints final+initial sections → ≤8 "Join"
    # tokens), not the ~22 an un-truncated 11-round tower would show
    assert plan.count("Join") <= 8
    assert "ExistingRDD" in plan


def test_text_in_rect_broadcasts_rects(spark):
    """The rect table (query-sized) broadcasts into the cell scan; the
    only exchange left is the groupBy(rect) reassembly — the cell
    relation itself is never hash-repartitioned before the probe."""
    from docling_spark.operators.extract import text_in_rect
    cells = spark.createDataFrame(
        [("d", 0, 0, "x", 0.0, 0.0, 1.0, 1.0)],
        "doc_id string, page_no int, cell_index int, text string, "
        "l double, t double, r double, b double")
    rects = spark.createDataFrame(
        [(0, "d", 0, 0.0, 0.0, 2.0, 2.0)],
        "rect_id int, doc_id string, page_no int, "
        "l double, t double, r double, b double")
    plan = _plan(text_in_rect(cells, rects))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_robots_gate_is_broadcast_hash_agg(spark):
    """Rules broadcast; the longest-match argmax is a HASH aggregate
    (the len·2+allow long encoding — max_by over a struct would fall
    back to SortAggregate), and the drop-list anti-join broadcasts."""
    from docling_spark.operators.weburl import robots_gate
    docs = spark.createDataFrame(
        [("1", "https://a.com/p")], "doc_id string, url string")
    rules = spark.createDataFrame(
        [("a.com", "/p", 0)], "host string, path_prefix string, allow int")
    plan = _plan(robots_gate(docs, rules))
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_split_is_zero_shuffle(spark):
    from docling_spark.operators.sampling import stratified_split
    docs = spark.createDataFrame(
        [("1", "s")], "doc_id string, source string")
    plan = _plan(stratified_split(docs))
    assert "Exchange" not in plan.replace("BroadcastExchange", "")


def test_reservoir_sample_has_partial_topk(spark):
    """Two-phase top-k: the salted window prunes per (source, salt)
    bucket before the final per-source ranking — no single task ever
    sorts one source's whole score table."""
    from docling_spark.operators.sampling import \
        reservoir_sample_per_source
    docs = spark.createDataFrame(
        [(f"d{i}", "s") for i in range(20)],
        "doc_id string, source string")
    plan = _plan(reservoir_sample_per_source(docs, k=3))
    assert plan.count("RunningWindowFunction") >= 1 \
        or plan.count("Window") >= 2


def test_html_table_cells_shuffle_free(spark):
    from docling_spark.operators.tables import html_table_cells
    df = spark.createDataFrame(
        [("d", [{"kind": "html", "text": "<table></table>",
                 "media_ref": "", "offset": 0}])],
        "doc_id string, spans array<struct<kind string, text string, "
        "media_ref string, offset int>>")
    plan = _plan(html_table_cells(df))
    assert "Exchange" not in plan.replace("BroadcastExchange", "")
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_bigram_entropy_partial_aggregation(spark):
    """The (grp, a, b) count has a map-side partial phase, and the
    vocab²-bounded join back to (grp, a) totals never touches the
    corpus again."""
    from docling_spark.operators.textstats import source_bigram_entropy
    docs = spark.createDataFrame(
        [(1, "s", "a b c")], "doc_id long, source string, text string")
    plan = _plan(source_bigram_entropy(docs))
    assert "partial_count" in plan or "partial_sum" in plan \
        or plan.count("HashAggregate") >= 4


def test_zorder_stays_in_codegen_single_final_shuffle(spark):
    """The Morton interleave must fold into whole-stage codegen (no
    Python stage, no UDF), the stats side must broadcast (1 row), and
    the only real exchange is the final file_id hash agg."""
    from docling_spark.operators.zorder import zorder_file_stats
    df = spark.createDataFrame([(i, i * 3 % 97) for i in range(100)],
                               "a long, b long")
    plan = _plan(zorder_file_stats(df, "a", "b", bits=8, n_files=8))
    assert "Python" not in plan and "MapInPandas" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("partial_min") >= 1  # map-side partial stats agg
    # exactly one hash-partitioned exchange: the file_id aggregation
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert len(shuffles) <= 1, shuffles


def test_compaction_single_window_per_partition(spark):
    """One cumulative-sum window partitioned by the table partition —
    no global (empty-key) window, no join, partial agg present."""
    from docling_spark.operators.compaction import compaction_bins
    df = spark.createDataFrame(
        [("p%d" % (i % 3), i, 100) for i in range(30)],
        "part string, file_id long, bytes long")
    plan = _plan(compaction_bins(df, part_col="part", target_bytes=300))
    assert plan.count("Window") == 1
    assert "Join" not in plan
    # the window must be keyed on the table partition, not a global
    # empty-key window (the executed plan spells the spec
    # windowspecdefinition(part#N, ...), never the API name
    # 'partitionBy')
    assert "windowspecdefinition(part#" in plan
    assert "partial_count" in plan or "partial_sum" in plan


def _python_udfs(df) -> list:
    """UDF names of the Python map nodes in ``df``'s physical plan,
    AQE unwrapped (the initial plan before execution, the final plan
    after)."""
    import re
    names = []

    def visit(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return visit(p.plan())
        if cls == "ReusedExchangeExec":
            return visit(p.child())
        if p.nodeName() in ("MapInPandas", "MapInArrow"):
            names.append(re.match(r"^\S+\s+(\w+)\(",
                                  p.simpleString(25)).group(1))
        children = p.children()
        for i in range(children.size()):
            visit(children.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return sorted(names)


def test_routed_plans_only_the_routes_present(spark):
    """extract_routed plans a branch only when the input has documents
    on its route: an HTML-only corpus plans and executes the doc-path
    UDF alone (no raw-PDF `batches`, no page `_page_batches`); a
    corpus with html, pdf_page and pdf_raw documents executes all
    three, each once."""
    import base64
    import json

    from docling_spark.operators.extract import extract_routed
    from docling_spark.schema import INPUT_SCHEMA
    from docling_spark.sources.corpus import corpus_from_documents
    from docling_spark.sources.pdfsynth import synth_pdf_pages

    html = extract_routed(
        corpus_from_documents(spark, "/root/testdata/sf0.001"))
    assert _python_udfs(html) == ["_extract_batches"]
    assert len(html.collect()) > 0  # runs html's own plan
    assert _python_udfs(html) == ["_extract_batches"]

    page = json.dumps({"page_no": 0, "width": 612.0, "height": 792.0,
                       "cells": [{"index": 0, "text": "w", "l": 50,
                                  "t": 100, "r": 400, "b": 110}]})
    raw = base64.b64encode(synth_pdf_pages([["alpha"]])).decode("ascii")
    mixed = extract_routed(spark.createDataFrame(
        [("h", [("html", "<html><body><p>x</p></body></html>", "", 0)]),
         ("p", [("pdf_page", page, "", 0)]),
         ("r", [("pdf_raw", raw, "", 0)])], schema=INPUT_SCHEMA))
    assert len(mixed.collect()) == 3
    assert _python_udfs(mixed) == ["_extract_batches", "_page_batches",
                                   "batches"]


def _docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")


def test_html_metadata_single_arrow_pass_no_shuffle(spark):
    from docling_spark.operators.metadata import html_metadata
    df = _docs(spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("<html><head><title>t</title></head>"
                       "<body>"), F.col("text"),
                 F.lit("</body></html>")).alias("html"))
    plan = _plan(html_metadata(df))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("ArrowEvalPython") == 1  # ONE parse per doc


def test_noindex_gate_rides_the_same_projection(spark):
    from docling_spark.operators.metadata import noindex_gate
    df = _docs(spark).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("<html><head></head><body>x</body></html>")
        .alias("html"))
    plan = _plan(noindex_gate(df))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_feed_urls_single_arrow_pass(spark):
    from docling_spark.operators.feeds import feed_urls
    df = _docs(spark).select(
        F.col("doc_id").cast("string").alias("feed_id"),
        F.lit("<rss><channel></channel></rss>").alias("xml"))
    plan = _plan(feed_urls(df))
    assert "Exchange" not in plan
    # evaluate-once pattern: the generate's pruning predicate must
    # not clone the Arrow UDF below the explode
    assert plan.count("ArrowEvalPython") == 1


def test_robots_sitemaps_zero_shuffle_no_window(spark):
    from docling_spark.operators.weburl import robots_sitemaps
    df = _docs(spark).select(
        F.col("source").alias("host"),
        F.lit("Sitemap: https://e.com/a.xml").alias("robots_txt"))
    plan = _plan(robots_sitemaps(df))
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan  # pure Catalyst, no UDF


def test_url_path_templates_one_partial_agg(spark):
    from docling_spark.operators.weburl import url_path_templates
    df = _docs(spark).select(
        F.concat(F.lit("https://h.example.com/p/"),
                 F.col("doc_id").cast("string")).alias("url"))
    plan = _plan(url_path_templates(df))
    # exactly one shuffle, with a map-side partial phase before it
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan


def test_dup_ngram_fraction_no_cartesian(spark):
    from docling_spark.operators.dedup import (dup_ngram_fraction,
                                               exploded_shingles)
    out = dup_ngram_fraction(exploded_shingles(
        _docs(spark).select("doc_id", "text"), n=3))
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_order_no_global_window(spark):
    from docling_spark.operators.curate import curriculum_order
    out = curriculum_order(
        _docs(spark).select("doc_id", "source",
                            (F.col("doc_id") % 7).alias("score")),
        score_col="score")
    plan = _plan(out)
    # the window partitions by source — a global (empty-partition)
    # window would print "Window [...], []" single-partition specs
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # per-source counts broadcast


def test_mean_pool_single_doc_shuffle(spark):
    from docling_spark.operators.vectorize import mean_pool_embeddings
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").select(
        (F.col("vec_id") / 4).cast("long").alias("doc_id"),
        (F.col("vec_id") % 4).cast("int").alias("chunk_idx"),
        "embedding")
    plan = _plan(mean_pool_embeddings(emb))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan  # the fold is codegen'd
    assert "ArrowEvalPython" not in plan


def test_pdf_outline_and_links_zero_shuffle(spark):
    from docling_spark.operators.pdfnative import (pdf_links,
                                                   pdf_outline,
                                                   synth_pdf_link_docs,
                                                   synth_pdf_outline_docs)
    d = F.col("doc_id").cast("string")
    pages = F.array(F.array(d), F.array(d))
    ol = F.array(F.struct(F.lit(0).alias("level"), d.alias("title"),
                          F.lit(0).alias("page_idx")))
    lk = F.array(F.struct(F.lit(0).alias("page_idx"),
                          d.alias("url")))
    docs = _docs(spark)
    p1 = _plan(pdf_outline(synth_pdf_outline_docs(
        docs.select(d.alias("doc_id"), pages.alias("pages"),
                    ol.alias("outline")))))
    p2 = _plan(pdf_links(synth_pdf_link_docs(
        docs.select(d.alias("doc_id"), pages.alias("pages"),
                    lk.alias("links")))))
    for plan in (p1, p2):
        assert "Exchange" not in plan
        assert "Join" not in plan


def test_warc_revisit_dedup_equijoin_only(spark):
    from docling_spark.operators.warc import warc_revisit_dedup
    recs = spark.createDataFrame(
        [("d", "revisit", "<u:2>", "u", -1, "", "<u:1>", "p", "x")],
        "doc_id string, warc_type string, record_id string, "
        "target_uri string, http_status int, body_text string, "
        "refers_to string, profile string, payload_digest string")
    plan = _plan(warc_revisit_dedup(recs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_heavy_hitters_broadcast_sketch(spark):
    from docling_spark.operators.sketch import cms_heavy_hitters
    terms = _docs(spark).select(
        F.explode(F.split("text", " ")).alias("token"))
    plan = _plan(cms_heavy_hitters(terms, value_col="token",
                                   width=64, k=5))
    # the depth×width sketch joins back as a broadcast — the
    # vocabulary-sized probe table must never sort-merge
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # top-k is the salted two-phase pattern, not a global single
    # partition over the vocabulary
    assert plan.count("Exchange SinglePartition") <= 1  # final k rows
