package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan audit main: prints the physical plan of the headline queries and
  * asserts the scale invariants the 100 TB design depends on —
  * broadcast (not shuffle) joins where a side is small, parquet filter/
  * column pushdown reaching the scan, and no CartesianProduct anywhere.
  * Output is committed as PLANS.md per round.
  */
object ExplainAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session(8)
    spark.sparkContext.setLogLevel("ERROR")

    val audited = Seq(
      "q1_pricing_summary", "q_star_join", "j1_incremental_antijoin",
      "j3_upsert_overlay", "e2_cosine_topk", "dd_minhash_lsh",
      "dd_jaccard_blocked", "w_tumbling_hourly", "f6_docid_filter",
      "a4_token_budget_buckets", "ta_topk_per_source",
      "dd_contamination", "e2_nn_join", "e2_nn_join_ivf",
      "e2_quantized_topk", "j1_bloom_prefilter",
      "j_range_attrib", "j_range_overlap",
      "ts_bm25", "dd_incremental", "ta_perplexity", "e2_ann_ivf_kmeans",
      "dd_fuzzy_contamination", "ts_hybrid_rrf",
      "ta_bpe_pairs", "vec_kmeans_sizes", "w_rolling_1h", "a_corr_stats",
      "ta_quantile_filter", "ts_bm25_incremental", "e2_ann_ivf_append",
      "g_pagerank", "ta_nb_langid", "ta_token_budget_take",
      "ta_token_budget_map", "ta_mixture_take",
      "ta_boilerplate_strip", "vec_meanpool",
      "dd_semantic_pairs", "dd_semantic", "e2_rp_rerank",
      "ta_dsir_scores", "ta_dsir_resample",
      "q_pivot", "q_grouping_sets", "a_histogram", "so_except_all",
      "ts_eval_metrics", "e2_ann_ivf_filtered", "a_mode_per_user",
      "c_variant_shred", "q_rollup_grouping", "s_schema_evolution",
      "dd_semantic_incremental", "dd_contamination_report",
      "q_correlated_subquery", "j_salted_skew", "k_partitioned_write",
      "ta_leakage_split", "a_kll_shard_quantiles", "j_corpus_diff",
      "q_lateral_topk", "dd_url_dedup", "e2_pq_recall_gate",
      "e2_binary_topk", "e2_mih_radius",
      "dd_line_dedup", "ta_epoch_shuffle", "dd_semantic_contamination",
      "c_lambda_funcs", "c_generator_funcs", "c_map_funcs", "a_agg_pushdown",
      "k_snapshot_clustered", "k_snapshot_store_roundtrip",
      "s15_snapshot_changelog_stream", "ts_bm25_snapshot", "e2_ann_ivf_snapshot",
      "k_snapshot_restore"
    )

    var bad = 0
    audited.foreach { name =>
      val df = SparkEntry.battery(name).fn(spark, sfDir)
      println(s"\n===== $name =====")
      val planStr = df.queryExecution.executedPlan.toString
      df.explain("formatted")
      if (planStr.contains("CartesianProduct")) {
        println(s"!!! $name: CartesianProduct in plan"); bad += 1
      }
    }

    // invariant spot-checks
    def plan(name: String): String =
      SparkEntry.battery(name).fn(spark, sfDir).queryExecution.executedPlan.toString

    // size-adaptive J1: broadcasts while the ledger is small...
    val j1SmallLedger =
      plan("j1_incremental_antijoin").contains("BroadcastHashJoin") &&
        plan("j1_incremental_antijoin").contains("LeftAnti")
    // ...and takes the shuffle path when broadcast is off — proving the join
    // carries no forced broadcast hint (the 100 TB ledger case)
    val j1ShuffleLedger = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try !plan("j1_incremental_antijoin").contains("BroadcastHashJoin")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }

    // IVF probe over a persisted cid-partitioned index prunes partitions —
    // including after an appendToIvf (segments land inside the same cid
    // partition dirs, so the probe's pruning is untouched by ingest)
    val ivfPrunes = {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("audit-ivf").toString + "/index"
      val vecs = (0 until 60).map { i =>
        val a = i / 60.0 * 2 * math.Pi
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat, 0f, 0f))
      }.toDF("vec_id", "embedding")
      val idx = graft.operators.Similarity.buildIvf(
        vecs.filter($"vec_id" < 50), "embedding", "vec_id", 6)
      graft.operators.Similarity.writeIvf(spark, idx, dir)
      graft.operators.Similarity.appendToIvf(
        spark, vecs.filter($"vec_id" >= 50), "embedding", "vec_id", dir)
      val res = graft.operators.Similarity.topKIvf(
        graft.operators.Similarity.readIvf(spark, dir), "embedding", "vec_id",
        Array(1f, 0f, 0f, 0f), 3, 2)
      val scan = res.queryExecution.executedPlan.collectLeaves().head.toString
      scan.contains("PartitionFilters") && scan.contains("cid")
    }

    // BM25 through an APPENDED index: term-bucket pruning must survive the
    // extra segment files, and the merge-on-read df derivation must join
    // back as a |query|-row broadcast, never a shuffle
    val bm25AppendPrunes = {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("audit-bm25").toString + "/index"
      val docs = Seq(
        (1L, "alpha beta gamma"), (2L, "beta delta"), (3L, "alpha epsilon zeta")
      ).toDF("doc_id", "text")
      graft.operators.TextSearch.writeIndex(
        spark, docs.filter($"doc_id" <= 2), "text", "doc_id", dir, nBuckets = 8)
      graft.operators.TextSearch.appendToIndex(
        spark, docs.filter($"doc_id" === 3L), "text", "doc_id", dir)
      val q = graft.operators.TextSearch.searchIndex(spark, dir, Seq("alpha", "beta"), 5)
      val p = q.queryExecution.executedPlan.toString
      val leaves = q.queryExecution.executedPlan.collectLeaves().map(_.toString)
      leaves.exists(l => l.contains("PartitionFilters") && l.contains("bucket#")) &&
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
    }

    // IVF and BM25 searches plan their scans in the driver: each scan's file
    // index is rooted at the probed `cid=` / `bucket=` directories only
    // (root paths <= probes), never at the index root, whose listing is a
    // job over every partition
    val searchScansListProbes = {
      import spark.implicits._
      def roots(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
        df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.rootPaths.map(_.getName)
        }
      def probedOnly(rs: Seq[Seq[String]], part: String, probes: Int): Boolean =
        rs.nonEmpty && rs.forall(r => r.nonEmpty && r.size <= probes && r.forall(_.startsWith(part)))
      val tmp = java.nio.file.Files.createTempDirectory("audit-probes").toString
      val vecs = (0 until 60).map { i =>
        val a = i / 60.0 * 2 * math.Pi
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("vec_id", "embedding")
      graft.operators.Similarity.writeIvf(spark,
        graft.operators.Similarity.buildIvf(vecs, "embedding", "vec_id", 6), s"$tmp/ivf")
      val ivf = graft.operators.Similarity.topKIvf(
        graft.operators.Similarity.readIvf(spark, s"$tmp/ivf"), "embedding", "vec_id",
        Array(1f, 0f), 3, 2)
      val docs = (0 until 40).map(i => (i.toLong, s"w${i % 13} w${i % 7} w${i % 5}"))
        .toDF("doc_id", "text")
      graft.operators.TextSearch.writeIndex(spark, docs, "text", "doc_id", s"$tmp/bm25", nBuckets = 8)
      val bm25 = graft.operators.TextSearch.searchIndex(spark, s"$tmp/bm25", Seq("w1", "w2"), 5)
      probedOnly(roots(ivf), "cid=", 2) && probedOnly(roots(bm25), "bucket=", 2)
    }

    // K3 delete-by-document mirrors J1: the chunk store's retire join (the
    // semi-join mergeMor finds the retired documents' rows with) broadcasts
    // small tombstone sets and shuffles when broadcast is unavailable —
    // proving no forced hint pins the plan (mass dataset retirement must
    // not exceed the broadcast limit)
    val (k3SmallTombstones, k3ShuffleTombstones) = {
      import spark.implicits._
      val chunks = (0 until 100).map(i => (s"c$i", s"doc${i % 10}")).toDF("chunkId", "documentId")
      val ids = Seq("doc1", "doc2").toDF("documentId")
      def deletePlan = graft.operators.Snapshots.retiredRows(chunks, ids, Seq("documentId"))
        .queryExecution.executedPlan.toString
      val small = deletePlan.contains("BroadcastHashJoin") && deletePlan.contains("LeftSemi")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffle = try !deletePlan.contains("BroadcastHashJoin")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      (small, shuffle)
    }

    // A graph search hop over a read-back index is ONE scan: the hop's node
    // ids go out as an isin filter over vectors ∪ edges, so the executed
    // plan holds no Exchange and no join at any corpus size.
    val graphHopOneScan = {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("audit-graph").toString + "/g"
      val vecs = (0 until 40).map { i =>
        val a = i / 40.0 * math.Pi
        (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
      }.toDF("id", "vec")
      graft.operators.GraphAnn.writeGraph(
        graft.operators.GraphAnn.buildGraph(vecs, "id", "vec", dim = 2,
          degree = 3, nPlanes = 2, probes = 4, hubs = 4), dir)
      val p = graft.operators.GraphAnn.hopFetch(
        graft.operators.GraphAnn.readGraph(spark, dir, "id", "vec"), Seq(1L, 2L, 3L))
        .queryExecution.executedPlan.toString
      println(s"\n===== graph search hop fetch over a read-back index =====")
      println(p)
      p.contains("Union") && !p.contains("Exchange") && !p.contains("Join")
    }

    val checks = Seq(
      ("graph-ann search hop is one scan of vectors union edges (no Exchange, no join)",
        graphHopOneScan),
      // recorded clustering discipline: after ONE clustered compact, an
      // APPEND's delta inherits the layout, so a key-range predicate over
      // the appended region still prunes manifest-side — streaming-append
      // debt cannot silently erode the skip path
      ("recorded clustering keeps append deltas prunable (inherited delta layout)", {
        import org.apache.spark.sql.functions.col
        val t = "/tmp/graft/audit/snap_cluster_audit"
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(t))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t).getParent)
        graft.operators.Snapshots.create(spark, t)
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
        val n = docs.count()
        val target = (n + 7) / 8
        (0 until 4).foreach { i =>
          graft.operators.Snapshots.append(spark, t,
            docs.filter(col("doc_id") % 4 === i).coalesce(1))
        }
        graft.operators.Snapshots.compact(spark, t,
          targetRecordsPerFile = target, clusterBySpec = "doc_id"): Unit
        // the appended delta (ids shifted by n) inherits the spec
        graft.operators.Snapshots.append(spark, t,
          docs.withColumn("doc_id", col("doc_id") + n), maxRecordsPerFile = target)
        val sp = graft.operators.Snapshots.scanPlan(spark, t,
          col("doc_id") >= n + n / 4 && col("doc_id") < n + n / 4 + n / 8)
        sp.filesScanned * 2 <= sp.filesTotal &&
          sp.df.inputFiles.length.toLong == sp.filesScanned
      }),
      // snapshot tables: a range predicate prunes files at PLAN time from
      // manifest stats (no footer opens), and the physical scan reads
      // exactly the surviving file set — the no-listing 100 TB read path
      ("snapshot scanPlan prunes manifest-side; physical scan reads only survivors", {
        val t = "/tmp/graft/audit/snap_audit"
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(t))
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t).getParent)
        graft.operators.Snapshots.create(spark, t)
        val docs = Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("n_chars"))
        (0L until 4L).foreach { i =>
          graft.operators.Snapshots.append(spark, t,
            docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 === i &&
              org.apache.spark.sql.functions.col("doc_id") >= i * 100 &&
              org.apache.spark.sql.functions.col("doc_id") < (i + 1) * 100).coalesce(1))
        }
        val sp = graft.operators.Snapshots.scanPlan(spark, t,
          org.apache.spark.sql.functions.col("doc_id") < 100)
        sp.filesScanned == 1 && sp.filesTotal == 4 &&
          sp.df.inputFiles.length.toLong == sp.filesScanned
      }),
      // planner-integrated snapshot scan: the optimizer's pushed filter
      // must reach the manifest-backed FileIndex (PushedFilters on the
      // scan) AND prune there — 1 of 4 stripe files read, measured from
      // the executed plan's scan metrics, with no explicit scanPlan call
      ("snapshot table() prunes through Catalyst: pushed filter reaches the manifest FileIndex", {
        import org.apache.spark.sql.functions.col
        val t = "/tmp/graft/audit/snap_cat_audit"
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(t))
        graft.operators.Snapshots.create(spark, t)
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
        val n = docs.agg(org.apache.spark.sql.functions.max(col("doc_id"))).head().getLong(0) + 1
        val w = (n + 3) / 4
        (0L until 4L).foreach { i =>
          graft.operators.Snapshots.append(spark, t,
            docs.filter(col("doc_id") >= i * w && col("doc_id") < (i + 1) * w).coalesce(1))
        }
        val q = graft.operators.Snapshots.table(spark, t).filter(col("doc_id") < w / 2)
        // collect() so metrics land on THIS dataset's QueryExecution
        val rows = q.collect().length
        def scans(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(qs.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
        val scan = scans(q.queryExecution.executedPlan).head
        val p = q.queryExecution.executedPlan.toString
        println(s"\n===== snapshot table() scan through Catalyst (manifest FileIndex) =====")
        println(p)
        rows > 0 && p.contains("PushedFilters") &&
          scan.metrics("numFiles").value == 1L &&
          scan.relation.location
            .isInstanceOf[org.apache.spark.sql.graft.SnapshotRelation.SnapshotFileIndex]
      }),
      // merge-on-read deletes: a dv-free table reads as a bare scan (the
      // vector machinery costs NOTHING until a vector exists); after a
      // deleteWhereMor the read adds exactly one anti-join against the
      // position-delete dataset and still scans the SAME data files —
      // zero rewrites, the 0.1%-of-100TB delete economics
      ("snapshot dv-free read is a bare scan; merge-on-read delete adds one anti-join, zero rewrites", {
        import org.apache.spark.sql.functions.col
        val t = "/tmp/graft/audit/snap_mor_audit"
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(t))
        graft.operators.Snapshots.create(spark, t)
        val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars"))
        graft.operators.Snapshots.append(spark, t, docs.filter(col("doc_id") % 2 === 0))
        graft.operators.Snapshots.append(spark, t, docs.filter(col("doc_id") % 2 === 1))
        val before = graft.operators.Snapshots.read(spark, t)
        val pBefore = before.queryExecution.executedPlan.toString
        val filesBefore = before.inputFiles.toSet
        graft.operators.Snapshots.deleteWhereMor(spark, t, col("doc_id") % 5 === 0)
        val after = graft.operators.Snapshots.read(spark, t)
        val pAfter = after.queryExecution.executedPlan.toString
        println(s"\n===== snapshot read AFTER a merge-on-read delete (dv anti-join) =====")
        println(pAfter)
        !pBefore.contains("Join") && pAfter.contains("LeftAnti") &&
          after.inputFiles.filterNot(_.contains(".dv")).toSet == filesBefore
      }),
      ("j1 anti-join broadcasts a small ledger (size-adaptive, no hint)", j1SmallLedger),
      ("j1 anti-join shuffles when broadcast is unavailable (no forced hint)", j1ShuffleLedger),
      ("k3 delete-by-document retire join broadcasts a small tombstone set (no hint)", k3SmallTombstones),
      ("k3 delete-by-document retire join shuffles when broadcast is unavailable (no forced hint)", k3ShuffleTombstones),
      ("ivf probe prunes cid partitions on a persisted index (incl. after append)", ivfPrunes),
      ("bm25 appended-index search prunes term buckets and broadcasts merge-on-read df",
        bm25AppendPrunes),
      ("ivf and bm25 search scans list only the probed partition directories (root paths <= probes)",
        searchScansListProbes),
      ("star join uses broadcast joins only",
        !plan("q_star_join").contains("SortMergeJoin")),
      ("f6 filter is pushed to the parquet scan",
        plan("f6_docid_filter").contains("PushedFilters: [IsNotNull(doc_id)]") ||
          plan("f6_docid_filter").contains("PushedFilters")),
      ("cosine topk plans as TakeOrdered (no global sort/shuffle)",
        plan("e2_cosine_topk").contains("TakeOrderedAndProject")),
      ("minhash candidates join on band buckets, no cartesian",
        !plan("dd_minhash_lsh").contains("CartesianProduct")),
      ("blocked jaccard join is equi-key, no cartesian",
        !plan("dd_jaccard_blocked").contains("CartesianProduct")),
      ("per-group top-k aggregates map-side (partial_top_k before the exchange)",
        plan("ta_topk_per_source").contains("partial_top_k") &&
          plan("ta_topk_per_source").contains("ObjectHashAggregate")),
      ("decontamination joins on n-gram hashes, no cartesian",
        !plan("dd_contamination").contains("CartesianProduct")),
      ("nn join is bucket-equi-key with map-side per-query top-k",
        !plan("e2_nn_join").contains("CartesianProduct") &&
          plan("e2_nn_join").contains("partial_top_k")),
      ("ivf nn join: corpus side joins equi-key on the cell id, no cartesian",
        !plan("e2_nn_join_ivf").contains("CartesianProduct") &&
          plan("e2_nn_join_ivf").contains("partial_top_k")),
      ("quantized topk plans as TakeOrdered over integer dot products (no shuffle)",
        plan("e2_quantized_topk").contains("TakeOrderedAndProject")),
      // the bloom pre-filter must ROUTE, not duplicate: one anti-join total,
      // so the bloom-cleared branch of the union reaches the aggregate
      // without any join (that branch is the shuffle the filter saves)
      ("bloom anti-join routes definite keeps around the single anti-join", {
        val p = plan("j1_bloom_prefilter")
        p.contains("Union") && "LeftAnti".r.findAllMatchIn(p).size == 1
      }),
      // a bare BETWEEN join with no equality conjunct would plan as a
      // BroadcastNestedLoopJoin — the bucketized form must stay equi-key
      ("range joins are bucket-equi-key, never nested-loop", {
        val a = plan("j_range_attrib"); val o = plan("j_range_overlap")
        Seq(a, o).forall(p =>
          !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
      }),
      // BM25 brute: the query-term IN filter must run below the tf
      // aggregation so the only corpus-wide exchange carries matching
      // postings, and the |query|-row df side must broadcast
      ("bm25 filters postings to the query terms and broadcasts df", {
        val p = plan("ts_bm25")
        p.contains(" IN (") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      // BM25 indexed: the postings scan must prune term-bucket partitions
      ("bm25 index search prunes postings partitions by term bucket", {
        val leaves = SparkEntry.battery("ts_bm25_indexed").fn(spark, sfDir)
          .queryExecution.executedPlan.collectLeaves().map(_.toString)
        leaves.exists(l => l.contains("PartitionFilters") && l.contains("bucket#"))
      }),
      // incremental dedup: the shared band table is checkpoint-materialized
      // (computed once for both join sides) and the pair join is equi-key.
      // That the corpus side comes from the STORED index (not a re-shingle)
      // is pinned behaviorally by IncrementalDedupSpec's append test.
      ("incremental dedup joins the materialized band table equi-key, no cartesian", {
        val p = plan("dd_incremental")
        p.contains("ExistingRDD") && !p.contains("CartesianProduct")
      }),
      // perplexity scoring: LM count lookups are equi-joins
      ("perplexity scoring joins LM counts equi-key, no cartesian",
        !plan("ta_perplexity").contains("CartesianProduct")),
      // fuzzy decontamination: (band, bucket) equi-key, benchmark broadcasts
      ("fuzzy decontamination joins band buckets equi-key with a broadcast bench side", {
        val p = plan("dd_fuzzy_contamination")
        p.contains("BroadcastHashJoin") && p.contains("LeftSemi") &&
          !p.contains("CartesianProduct")
      }),
      // pagerank: contribution joins are equi-key on node/src — never a
      // cartesian against the edge table
      ("pagerank iterations join ranks onto edges equi-key, no cartesian",
        !plan("g_pagerank").contains("CartesianProduct")),
      // NB scoring: the ONLY non-equi join is docTf × the broadcast class
      // list (bounded by construction); the vocabulary-sized term-count
      // join must be equi-key
      ("nb scoring crosses only the bounded class list; term counts join equi-key", {
        val p = plan("ta_nb_langid")
        !p.contains("CartesianProduct") &&
          "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1
      }),
      // token-budget cut: the row-level running sum must be windowed by
      // (source, bucket) — a window keyed on the source alone is the
      // single-task-per-source shape the decomposition exists to avoid
      ("token-budget row window is bucket-scoped, not whole-source", {
        val p = plan("ta_token_budget_take")
        val rowWindows = p.linesIterator.filter(l =>
          l.contains("windowspecdefinition") && l.contains("toks")).toSeq
        rowWindows.nonEmpty && rowWindows.forall(_.contains("_b"))
      }),
      // per-source budget map: the budget rides the plan as a literal map
      // lookup — it must not add a join over the single-budget form, and
      // the row window must stay bucket-scoped exactly like the take
      ("token-budget map keeps the bucket-scoped window and adds no join", {
        val p = plan("ta_token_budget_map")
        val rowWindows = p.linesIterator.filter(l =>
          l.contains("windowspecdefinition") && l.contains("toks")).toSeq
        val joins = "(?i)hashjoin".r.findAllMatchIn(p).size
        val joinsTake = "(?i)hashjoin".r.findAllMatchIn(plan("ta_token_budget_take")).size
        rowWindows.nonEmpty && rowWindows.forall(_.contains("_b")) && joins == joinsTake
      }),
      // one-call mixture: after the k-row driver-side budget derivation the
      // cut is the same bucket-decomposed plan as the budget map — window
      // bucket-scoped, no extra join
      ("mixture cut keeps the bucket-scoped window, no cartesian", {
        val p = plan("ta_mixture_take")
        val rowWindows = p.linesIterator.filter(l =>
          l.contains("windowspecdefinition") && l.contains("toks")).toSeq
        rowWindows.nonEmpty && rowWindows.forall(_.contains("_b")) &&
          !p.contains("CartesianProduct")
      }),
      // boilerplate strip: line removal joins equi-key on the trimmed line
      // (the boilerplate side is broadcast-small by definition)
      ("boilerplate strip joins the line key equi-key, no cartesian", {
        val p = plan("ta_boilerplate_strip")
        !p.contains("CartesianProduct") && p.contains("LeftAnti")
      }),
      // mean-pooling: pure aggregate pipeline, no join at all
      ("mean-pooling never crosses or cartesians",
        !plan("vec_meanpool").contains("CartesianProduct")),
      // SemDeDup: pairs exist only WITHIN a k-means cell — the pair join
      // must be equi-key on the cell id, never all-pairs. The only
      // permissible nested-loop is the bounded k-row centroid broadcast.
      ("semantic dedup pairs join equi-key within cells, no cartesian", {
        val p = plan("dd_semantic_pairs"); val d = plan("dd_semantic")
        Seq(p, d).forall(x => !x.contains("CartesianProduct")) &&
          "BroadcastNestedLoopJoin".r.findAllMatchIn(p).size <= 1
      }),
      // JL two-stage retrieval: the 16-dim candidate pass must plan as a
      // TakeOrdered (no global sort), and the 50-row candidate list must
      // broadcast back onto the full-dim corpus for the re-rank
      ("rp rerank takes candidates via TakeOrdered and broadcasts the rerank join", {
        val p = plan("e2_rp_rerank")
        p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      // DSIR: both distributions are `buckets`-row tables, so the log-ratio
      // lookup must broadcast onto the per-doc tf table — a shuffle here
      // would re-partition the whole corpus against a 1024-row side
      ("dsir log-ratio lookup broadcasts the bucket table, no cartesian", {
        val p = plan("ta_dsir_scores")
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      // DSIR selection: Gumbel top-k is orderBy+limit — must plan as
      // TakeOrdered (per-partition heaps + driver merge), never a global sort
      ("dsir resample plans as TakeOrdered, not a global sort",
        plan("ta_dsir_resample").contains("TakeOrderedAndProject")),
      // pivot: one aggregate pass, no join introduced by the column pivot
      ("pivot is a single aggregate pass, no join", {
        val p = plan("q_pivot")
        !p.contains("Join") && !p.contains("CartesianProduct")
      }),
      // grouping sets: one Expand + aggregate — N sets must not become N scans
      ("grouping sets expand in one pass over one scan", {
        val p = plan("q_grouping_sets")
        p.contains("Expand") && p.linesIterator.count(_.contains("Scan parquet")) <= 1
      }),
      // eval metrics: every rank window is partitioned by the query id —
      // an un-partitioned window over retrieval results is the one-task
      // shape that cannot scale past a single executor
      ("eval-metric rank windows are query-partitioned, never global", {
        val p = plan("ts_eval_metrics")
        val ws = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
        ws.nonEmpty && ws.forall(_.contains("_q"))
      }),
      // filtered ANN: the label predicate composes onto the probed scan
      // without introducing any join beyond the probe's cell filter
      ("filtered ivf search stays join-free beyond the probe, no cartesian",
        !plan("e2_ann_ivf_filtered").contains("CartesianProduct")),
      // mode: a declarative aggregate with map-side partials — never a
      // per-group collect
      ("mode aggregates with map-side partials",
        plan("a_mode_per_user").contains("partial_mode")),
      // variant shred: the aggregate behind the decode shuffles longs, not
      // JSON text — the exchange must not carry the props column
      ("variant shred exchanges carry extracted longs, not JSON text", {
        val p = plan("c_variant_shred")
        !p.linesIterator.exists(l => l.contains("Exchange") && l.contains("props"))
      }),
      // rollup: one Expand over one scan, like grouping sets
      ("rollup expands in one pass over one scan", {
        val p = plan("q_rollup_grouping")
        p.contains("Expand") && p.linesIterator.count(_.contains("Scan parquet")) <= 1
      }),
      // schema evolution: the merged read is still ONE scan node over both
      // batch dirs (mergeSchema widens the schema, not the plan)
      ("merged-schema read plans one scan over heterogeneous batches", {
        val p = plan("s_schema_evolution")
        p.linesIterator.count(_.contains("Scan parquet")) <= 1
      }),
      // incremental semantic dedup: the pair join is cell-equi-key over the
      // checkpoint-materialized combined population (computed once for both
      // sides), never all-pairs
      ("incremental semantic pairs join cells equi-key over one materialized table", {
        val p = plan("dd_semantic_incremental")
        p.contains("ExistingRDD") && !p.contains("CartesianProduct")
      }),
      // contamination report: every join is a gram-hash or item-id equi-join
      ("contamination report joins gram hashes equi-key, no cartesian",
        !plan("dd_contamination_report").contains("CartesianProduct")),
      // partitioned-write read-back: the source IN-filter must reach the
      // scan as a PartitionFilter (directory pruning), not a data filter
      // over every partition's files
      ("partitioned read prunes source directories at the scan", {
        val df = SparkEntry.battery("k_partitioned_write").fn(spark, sfDir)
        val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
        scan.contains("PartitionFilters") && scan.contains("source")
      }),
      // salted skew join: the salt must not break the equi-join shape —
      // hash join on (key, salt), never a cartesian against the replicas
      ("salted skew join stays an equi hash join, no cartesian", {
        val p = plan("j_salted_skew")
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
      }),
      // correlated scalar subquery: Catalyst must decorrelate to an
      // aggregate + equi-join — a surviving per-row subquery or nested loop
      // is the 100 TB non-starter the rewrite exists for
      ("correlated subquery decorrelates to an aggregate equi-join", {
        val p = plan("q_correlated_subquery")
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
          p.contains("partial_avg")
      }),
      // leakage-safe split: the component join-back is an equi-join (left
      // outer on the id) and the split decision itself adds no join or
      // sort — a cartesian or global sort here would re-shuffle the corpus
      ("leakage-safe split joins components equi-key, no cartesian or global sort", {
        val p = plan("ta_leakage_split")
        !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin")
      }),
      // KLL shard sketches: the per-shard aggregate runs with map-side
      // partial sketches (ObjectHashAggregate partial_kll...) — raw rows
      // must never shuffle to the report side
      ("kll shard sketches aggregate map-side, rows never shuffle raw", {
        val p = plan("a_kll_shard_quantiles")
        p.contains("ObjectHashAggregate") && p.contains("partial_kll_sketch_agg_double")
      }),
      // corpus diff: content reduces to sha2 BEFORE the full-outer join —
      // no exchange may carry the text column (at 100 TB the diff join
      // must move hashes, not documents)
      ("corpus diff exchanges carry (id, hash), never document text", {
        val p = plan("j_corpus_diff")
        !p.linesIterator.exists(l => l.contains("Exchange") && l.contains("text#")) &&
          !p.contains("CartesianProduct")
      }),
      // lateral correlated ordered-LIMIT: Catalyst must rewrite to a
      // ranked-window join — a per-outer-row inner execution (nested loop)
      // is the 100 TB non-starter the decorrelation exists for
      ("lateral top-k decorrelates to a window join, never a nested loop", {
        val p = plan("q_lateral_topk")
        p.contains("Window") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")
      }),
      // PQ ADC search: scoring is map-side against the BROADCAST query
      // tables (the nested-loop here is the intended bounded broadcast of
      // |queries| table rows) and candidates truncate in partial_top_k
      // before any exchange — full scored pairs must never shuffle. The
      // battery entry materializes eagerly into a local relation, so the
      // invariant inspects the ADC pipeline itself.
      ("pq adc search broadcasts query tables and truncates top-k map-side", {
        import org.apache.spark.sql.functions.col
        val vecs = Tables.embeddings(spark, sfDir)
        val model = graft.operators.Pq.train(vecs, "embedding", "vec_id",
          m = 16, k = 16, iters = 1)
        val codes = graft.operators.Pq.encode(vecs, "embedding", model)
          .select(col("vec_id"), col("pq_code"))
        val p = graft.operators.Pq.nnJoinAdc(codes, "pq_code", "vec_id",
          vecs.filter(col("vec_id") % 100 === 0)
            .select(col("vec_id").as("qid"), col("embedding")),
          "qid", "embedding", n = 10, model)
          .queryExecution.executedPlan.toString
        p.contains("partial_top_k") && p.contains("BroadcastNestedLoopJoin")
      }),
      // binary-quant two-stage search: the Hamming candidate pass must plan
      // as a TakeOrdered over the packed codes (scan + native popcount, no
      // global sort), and the 100-row candidate list must broadcast back
      // onto the float corpus for the exact rerank
      ("binary topk takes Hamming candidates via TakeOrdered and broadcasts the rerank", {
        val p = plan("e2_binary_topk")
        p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin") &&
          !p.contains("CartesianProduct")
      }),
      // MIH radius search: candidate generation is a pure equi-join on
      // (block_idx, block_val) with the probe side broadcast — codes are
      // compared only within matching blocks, never all-pairs
      ("mih radius search joins block keys equi-key with a broadcast probe side", {
        val p = plan("e2_mih_radius")
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin")
      }),
      // parquet aggregate pushdown: the unfiltered count/min/max must be
      // answered by the scan's footer statistics — `PushedAggregation` on
      // the scan node, or the monitoring query reads the whole table
      ("global count/min/max pushes to the parquet scan (PushedAggregation)", {
        val p = plan("a_agg_pushdown")
        p.contains("PushedAggregation") && p.contains("COUNT(*)")
      }),
      // graph ANN build: the per-vector kNN truncates through the native
      // map-side partial_top_k and candidates pair only within LSH buckets
      // (equi-join) — an all-pairs build would be the 100 TB non-starter.
      // buildGraph checkpoints its result (the edge table IS the index),
      // so the invariant inspects the kNN join it wraps.
      ("graph ann build truncates knn map-side, pairs only within buckets", {
        val vecs = Tables.embeddings(spark, sfDir)
        val p = graft.operators.Similarity.nnJoin(vecs, "vec_id", vecs, "vec_id",
          "embedding", dim = 64, k = 5, nPlanes = 6, probes = 2)
          .queryExecution.executedPlan.toString
        p.contains("partial_top_k") && !p.contains("CartesianProduct")
      }),
      // NN-Descent refinement round: the local join (pairs among each
      // node's sampled neighbors) must exchange ID PAIRS only — the whole
      // point of the descent build is that no refinement exchange carries
      // the vector payload; vectors are fetched by id-equi-join against
      // the hash-pinned table at scoring time. The invariant reproduces
      // the round's candidate pipeline over a real adjacency and asserts
      // every Exchange keys on id columns with no vector in flight.
      ("descent refinement local join exchanges id pairs, no vector payload", {
        import org.apache.spark.sql.functions._
        val vecs = Tables.embeddings(spark, sfDir)
        val adj = graft.operators.Similarity.nnJoin(vecs, "vec_id", vecs, "vec_id",
          "embedding", dim = 64, k = 5, nPlanes = 6, probes = 1)
          .filter(col("neighbor_id") =!= col("vec_id"))
          .select(col("vec_id").as("_nd_src"), col("neighbor_id").as("_nd_dst"),
            col("sim").as("_nd_sim"))
          .localCheckpoint()
        val und = adj.unionByName(adj.select(col("_nd_dst").as("_nd_src"),
          col("_nd_src").as("_nd_dst"), col("_nd_sim")))
        val sampled = und
          .withColumn("_nd_h", xxhash64(col("_nd_src"), col("_nd_dst"), lit(1)))
          .groupBy(col("_nd_src"))
          .agg(expr("top_k(struct(_nd_h, _nd_dst), 8)").as("_t"))
          .select(col("_nd_src").as("_nd_mid"), explode(col("_t")).as("_x"))
          .select(col("_nd_mid"), col("_x._nd_dst").as("_nd_nbr"))
        val pairs = sampled.select(col("_nd_mid"), col("_nd_nbr").as("_a"))
          .join(sampled.select(col("_nd_mid"), col("_nd_nbr").as("_b")), Seq("_nd_mid"))
          .filter(col("_a") < col("_b")).select(col("_a"), col("_b")).distinct()
        val p = pairs.queryExecution.executedPlan.toString
        p.contains("partial_top_k") && !p.contains("embedding") &&
          !p.contains("CartesianProduct")
      }),
      // semantic decontamination: the eval side must BROADCAST (nested-loop
      // against a broadcast relation is the intended bounded plan); the
      // corpus side must reach the join without any Exchange
      ("semantic decontamination broadcasts eval, corpus never exchanges pre-join", {
        val p = plan("dd_semantic_contamination")
        p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")
      }),
      // global line dedup: the winner aggregate must key its exchange on
      // the line HASH column (_h) — the decision shuffle moves 32-byte
      // hashes + (doc,pos) ids; text crosses the wire only in the final
      // id-keyed overlay join
      ("line dedup decision exchange keys on the line hash, not text", {
        val lined = Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))
        val p = graft.operators.Dedup.dedupLines(lined, "doc_id", "text")
          .queryExecution.executedPlan.toString
        p.contains("hashpartitioning(_h#") && !p.contains("CartesianProduct")
      })
    )
    println("\n===== invariants =====")
    checks.foreach { case (label, ok) =>
      println(s"${if (ok) "PASS" else "FAIL"} $label")
      if (!ok) bad += 1
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
