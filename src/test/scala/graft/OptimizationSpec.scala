package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewOps

/** Scale-technique specs: salting equivalence, bucketed co-located joins
  * (no shuffle), and plan-shape checks (pushdown reaching the scan). */
class OptimizationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
    .appName("opt-spec")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("salted join returns exactly the plain join's rows") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_orderpriority")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select("l_orderkey", "l_quantity", "o_orderpriority")
    val salted = SkewOps.saltedJoin(li, o, "l_orderkey", "o_orderkey", buckets = 8)
      .select("l_orderkey", "l_quantity", "o_orderpriority")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted collect_set merges to the same sets as plain collect_set") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val plain = o.groupBy("o_custkey")
      .agg(array_sort(collect_set(col("o_orderpriority"))).as("o_orderpriority_set"))
    val salted = SkewOps.saltedCollectSet(o, "o_custkey", "o_orderpriority", buckets = 4)
    val diff = plain.join(salted, "o_custkey")
      .filter(plain("o_orderpriority_set") =!= salted("o_orderpriority_set"))
    assert(diff.count() === 0)
  }

  test("key histogram surfaces heavy hitters in order") {
    val h = SkewOps.keyHistogram(
      spark.read.parquet(s"$sf/lineitem.parquet"), "l_returnflag", topK = 3).collect()
    assert(h.length === 3)
    assert(h.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS o_bkt")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bkt")
    o.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_bkt")
    try {
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      val planStr = joined.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$planStr")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("hive-style partitioned writes enable partition pruning at the scan") {
    val out = java.nio.file.Files.createTempDirectory("part-prune").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("order_year") === 1997)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [isnotnull(order_year"), planStr)
    // only the 1997 directory is read
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("order_year=1997")), files.mkString("\n"))
  }

  test("typed Aggregator (UDAF surface) matches the declarative equivalent") {
    import org.apache.spark.sql.expressions.Aggregator
    import org.apache.spark.sql.{Encoder, Encoders}
    // weighted-sum pair aggregator: (sum of qty*price, sum of qty)
    val wsum = new Aggregator[(Double, Double), (Double, Double), (Double, Double)] {
      def zero = (0.0, 0.0)
      def reduce(b: (Double, Double), a: (Double, Double)) = (b._1 + a._1 * a._2, b._2 + a._1)
      def merge(x: (Double, Double), y: (Double, Double)) = (x._1 + y._1, x._2 + y._2)
      def finish(r: (Double, Double)) = r
      def bufferEncoder: Encoder[(Double, Double)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
      def outputEncoder: Encoder[(Double, Double)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    }
    spark.udf.register("wsum", org.apache.spark.sql.functions.udaf(wsum))
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_udaf")
    val got = spark.sql(
      "SELECT l_returnflag, wsum(l_quantity, l_extendedprice) AS ws FROM li_udaf GROUP BY l_returnflag")
      .selectExpr("l_returnflag", "round(ws._1, 2) AS wsum", "round(ws._2, 2) AS qty")
    val expected = spark.sql(
      """SELECT l_returnflag, round(sum(l_quantity * l_extendedprice), 2) AS wsum,
        |       round(sum(l_quantity), 2) AS qty FROM li_udaf GROUP BY l_returnflag""".stripMargin)
    assert(got.exceptAll(expected).count() === 0 && expected.exceptAll(got).count() === 0)
    spark.catalog.dropTempView("li_udaf")
  }

  test("orc/csv/json round-trips preserve rows (schema-explicit reads)") {
    import graft.sources.Formats
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val schema = src.schema
    Seq("parquet", "orc", "csv", "json").foreach { fmt =>
      val path = java.nio.file.Files.createTempDirectory(s"fmt-$fmt").toString + "/t"
      Formats.write(src, path, fmt)
      val back = Formats.read(spark, path, fmt, schema)
      assert(back.count() === src.count(), fmt)
      assert(back.exceptAll(src).count() === 0, s"$fmt round-trip lost rows")
      assert(back.schema === schema, fmt)
    }
  }

  test("s02 IVF: no shuffle exchange ever carries an embedding vector") {
    // the scale property behind IVF: corpus vectors are scored and
    // bucket-joined entirely map-side (literal centroids + broadcast
    // probes); the only exchange in the plan is the final bounded top-k on
    // (query_id, neg_score, neighbor_id) triples.
    // NOTE: AdaptiveSparkPlanExec is a LeafExecNode — collect on the raw
    // executedPlan sees nothing below the AQE wrapper and the assertion
    // passes vacuously; PlanIntrospection unwraps it first.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    val df = SparkEntry.queries("s02_knn_ivf")(spark, sf)
    val shuffles = PlanIntrospection.physicalPlan(df).collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.nonEmpty, "expected the final top-k exchange in the plan")
    shuffles.foreach { e =>
      val carried = e.output.map(_.name.toLowerCase)
      assert(!carried.exists(n => n.contains("emb")),
        s"shuffle carries vector column(s): ${carried.mkString(",")}")
    }
  }

  test("s06 persisted-IVF index scan is dynamically pruned to the probed buckets") {
    // the index is parquet partitioned by pivot_id; the probe side joins on
    // that partition column, so DPP injects a runtime IN-filter into the
    // scan — the plan property that makes query cost ~nprobe/nlist of the
    // corpus instead of a full index read
    val plan = SparkEntry.queries("s06_knn_ivf_persisted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(pivot_id"),
      s"index scan must be dynamically partition-pruned:\n${plan.take(3000)}")
  }

  test("s08 filtered-ANN index scan: DPP to the probed buckets AND the label " +
      "predicate pushed into the parquet read") {
    // the two reductions must COMPOSE: dynamic partition pruning keeps the
    // scan to nprobe buckets, and inside them the pushed label filter
    // skips row groups whose stats exclude the value — the plan shape that
    // makes attribute-filtered vector search corpus-size-independent
    val plan = SparkEntry.queries("s08_knn_filtered")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(pivot_id"),
      s"filtered index scan must be dynamically partition-pruned:\n${plan.take(3000)}")
    assert(plan.contains("EqualTo(label,3)"),
      s"label predicate must reach the index scan's PushedFilters:\n${plan.take(3000)}")
  }

  test("s07 IVF-PQ scan is partition-pruned AND reads codes, not vectors") {
    // the two multiplicative scan reductions of IVF-PQ, both visible in the
    // plan: DPP prunes the index scan to the probed buckets, and the index
    // scan's schema carries the 8-byte code column — the embedding column
    // appears only in the bounded re-rank scan of the vector table
    val plan = SparkEntry.queries("s07_knn_ivfpq")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression(pivot_id"),
      s"PQ index scan must be dynamically partition-pruned:\n${plan.take(3000)}")
    val idxScans = plan.linesIterator.filter(l =>
      l.contains("embeddings_pq") && l.contains("ReadSchema")).toSeq
    assert(idxScans.nonEmpty, s"expected a PQ index scan:\n${plan.take(3000)}")
    // judge the ReadSchema alone — the scan PATH itself contains the
    // substring "embedding" (…/embeddings_pq)
    val schemas = idxScans.map(_.split("ReadSchema:").last)
    assert(schemas.forall(sch => sch.contains("code:binary") && !sch.contains("embedding")),
      s"PQ index scan must read codes only:\n${idxScans.mkString("\n")}")
  }

  test("t10/t13/t19/t21 per-doc scoring is map-side only: zero shuffle exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    Seq("t10_repetition_ratio", "t13_quality_filter", "t19_mixture_epochs",
        "t21_dedup_rewrite").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val shuffles = PlanIntrospection.physicalPlan(df).collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"$name: per-doc scoring must not shuffle, found: $shuffles")
    }
  }

  test("t11 rarity scoring broadcasts the vocabulary (no shuffle join on terms)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    val plan = PlanIntrospection.physicalPlan(
      SparkEntry.queries("t11_rarity_score")(spark, sf))
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    // exchanges: vocab aggregation on term + final doc_id aggregation —
    // no third shuffle for the join itself
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got:\n$plan")
  }

  test("d12: bloom prefilter evaluates below every exchange; no shuffle carries text/shingles") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.{NativeUnary, PlanIntrospection}
    val plan = PlanIntrospection.physicalPlan(
      SparkEntry.queries("d12_bloom_incremental")(spark, sf))
    val isBloom: org.apache.spark.sql.catalyst.expressions.Expression => Boolean = {
      case e: NativeUnary => e.name == "bloom_count_hits"
      case _ => false
    }
    val pre = plan.collect {
      case f: FilterExec if f.condition.find(isBloom).isDefined => f
    }
    assert(pre.nonEmpty, s"bloom prefilter missing from plan:\n$plan")
    pre.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "the bloom prefilter must run map-side, before any exchange")
    }
    plan.collect { case e: ShuffleExchangeLike => e }.foreach { e =>
      val carried = e.output.map(_.name.toLowerCase)
      assert(!carried.exists(n => n == "text" || n == "sh"),
        s"shuffle carries document payload: ${carried.mkString(",")}")
    }
  }

  test("multi-distinct aggregate plans a single Expand, not one shuffle per distinct") {
    val plan = graft.SparkEntry.queries("q55_multi_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"multi-distinct should need at most 2 exchanges:\n$plan")
  }

  test("d08 exact join broadcasts the size table (no shuffle for the size lookups)") {
    val plan = graft.SparkEntry.queries("d08_jaccard_exact_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"size lookups must be broadcast joins:\n$plan")
  }

  test("d15 computes the IVF assignment once: both self-join sides read one " +
      "cached relation, with the assignment spread below the cache") {
    // the r12 optimization pin: before it, each self-join side re-ran the
    // nlist-cosine assignment at the scan's split count (two ~8 s t=10
    // stages on the heavy probe). The shape that fixed it: ONE sharedDf
    // cache of the assigned table (both InMemoryTableScans must share a
    // cacheBuilder, i.e. one materialization) whose cached plan carries
    // the round-robin spread() rebalance of the undersized scan.
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    // flatten, not collect: if an earlier suite in this JVM already ran
    // d15 (the cache is session-keyed and sessions share the JVM), the
    // cached plan's AQE wrapper holds a FINAL plan whose QueryStageExec
    // leaves hide the exchange from a plain collect (r12 review)
    val df = SparkEntry.queries("d15_semdedup")(spark, sf)
    val scans = PlanIntrospection.flatten(PlanIntrospection.physicalPlan(df)).collect {
      case s: InMemoryTableScanExec => s
    }
    assert(scans.size == 2,
      s"expected both self-join sides on the assignment cache, saw ${scans.size}")
    assert(scans.map(_.relation.cacheBuilder).distinct.size == 1,
      "the two sides must share ONE cached materialization of the assignment")
    val spreadExchanges = PlanIntrospection.flatten(scans.head.relation.cachedPlan).collect {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }
    assert(spreadExchanges.nonEmpty,
      "the cached assignment plan must rebalance the undersized scan " +
        "(spreadScan) so the cosine pass parallelizes:\n" +
        scans.head.relation.cachedPlan)
  }

  test("q66 plans a Sample node; q67 plans CollectTail") {
    val samplePlan = SparkEntry.queries("q66_tablesample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(samplePlan.contains("Sample"), samplePlan)
    val tailPlan = SparkEntry.queries("q67_tail")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tailPlan.contains("CollectTail"), tailPlan)
  }

  test("q72 funnel: the window layers and per-user rollup share one user_id exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    val plan = PlanIntrospection.physicalPlan(SparkEntry.queries("q72_funnel")(spark, sf))
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    // one hash exchange on user_id feeding all three window layers + the
    // per-user aggregate, plus the final single-row rollup
    assert(shuffles.size <= 2, s"expected <=2 exchanges, got ${shuffles.size}:\n$plan")
  }

  /** Payload detection by DATA TYPE, not column name (the r6-verdict ask:
    * d15's renamed emb_a/emb_b evaded the old name list). A column is a
    * payload when its type can only be a corpus-sized-per-row artifact:
    *   - ARRAY<FLOAT>/ARRAY<DOUBLE>: embeddings / vector features;
    *   - ARRAY<BIGINT>: shingle, signature and fingerprint hash SETS
    *     (per-doc, hundreds of elements);
    *   - BINARY: media payloads — EXCEPT aggregation buffers riding the
    *     partial→final exchange (sketch/percentile/collect/top-k partial
    *     states): those are AGGREGATE state, not per-row corpus payloads —
    *     map-side combine has already collapsed rows into them. They are
    *     recognizable by their generated attribute names: Spark's
    *     TypedImperativeAggregate buffer is always named exactly "buf",
    *     and declarative agg buffers carry function-call names with '('.
    *     (Residual blind spot: a SCAN column literally named "buf" would
    *     slip — none of our sources has one, and the negative test below
    *     pins the detector on the rename trick that actually bit r6.);
    *   - STRING document text cannot be told from a 10-byte dimension
    *     attribute by type, so the historical name list stays as a
    *     SUPPLEMENT for strings only.
    * Returns "name: type" for each offending output column. */
  private def shufflePayloads(
      e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike): Seq[String] = {
    import org.apache.spark.sql.types._
    val textNames = Set("text", "content", "red", "t", "norm_text")
    e.output.flatMap { a =>
      val flagged = a.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case ArrayType(LongType, _) => true
        case BinaryType => a.name != "buf" && !a.name.contains("(")
        case StringType => textNames(a.name.toLowerCase)
        case _ => false
      }
      if (flagged) Some(s"${a.name}: ${a.dataType.simpleString}") else None
    }
  }

  test("no shuffle exchange in ANY inventory query carries a document/vector payload") {
    // the inventory-wide 100 TB invariant: wide payloads (document text,
    // media bytes, embeddings, shingle/signature arrays) may be scanned
    // and broadcast-joined, but must NEVER ride a shuffle — every
    // repartitioning moves only keys, ids, and fixed-width aggregates.
    // (BroadcastExchange is exempt by design: broadcasting the bounded
    // query/probe side is the pattern that keeps the corpus map-side.)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    // Deliberate, documented exemptions — each names the one payload its
    // query is ALLOWED to shuffle and why the shuffle is bounded:
    //  - d15_semdedup: SemDeDup must CO-LOCATE cluster-mates for the
    //    within-cluster pairwise pass, so its one keyed exchange carries
    //    embeddings by algorithmic necessity. It is bounded: cluster
    //    populations √-scale with the corpus (ivfNlistFor), so the
    //    per-reducer payload is O(√n·dim), not O(n·dim). (At fixture
    //    scale AQE broadcasts this join and the exchange may not even
    //    appear — the exemption documents the at-scale shape.)
    //  - s11_knn_graph_ivf: the same cluster-mate co-location, for the
    //    bounded kNN graph (both join sides are corpus-sized, so neither
    //    can be broadcast); bounded exactly like d15.
    //  - s10_knn_graph / d18_weighted_overlap: the deliberately-EXACT
    //    all-pairs kernels, now shaped as the blocked equi-join
    //    (CrossOps.blockedSelfPairs). Co-locating every pair is the
    //    DEFINITION of exact all-pairs; the blocked form bounds it —
    //    each row's payload is replicated exactly B = √(2·tasks) times
    //    and per-task state is 2·(n/B) rows, vs the r7 broadcast form
    //    that shipped the WHOLE corpus to every executor.
    //  - d22_prefix_filter_join: the AllPairs/PPJoin VERIFY step
    //    co-locates each candidate pair's two hash sets for one
    //    array_intersect per pair (r10 — replacing the inverted-index
    //    verify whose 180M-row join dominated the heavy tier). Bounded
    //    like d18/s10's pairwise kernels: a set travels once per
    //    theorem-admitted candidate pair, never corpus-broadcast.
    val exempt: Map[String, Set[String]] =
      Map("d15_semdedup" -> Set("embedding", "emb_a", "emb_b"),
        "s11_knn_graph_ivf" -> Set("embedding", "q_emb"),
        "s10_knn_graph" -> Set("embedding_a", "embedding_b"),
        "d18_weighted_overlap" -> Set("tfv_a", "tfv_b"),
        "d22_prefix_filter_join" -> Set("hs", "hs_a", "hs_b", "sh"),
        //  - d26_minhash_estimator_audit: fixed 32-long signature arrays
        //    on the pair-verify joins — one bounded sketch per row (the
        //    d22 class), the standard MinHash signature-table layout
        "d26_minhash_estimator_audit" -> Set("sig", "siga", "sigb"))
    val violations = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1 == "z01_lineage_extraction") // driver-side analysis, no cluster plan
      .flatMap { case (name, fn) =>
        PlanIntrospection.physicalPlan(fn(spark, sf))
          .collect { case e: ShuffleExchangeLike => e }
          // QueryDsl.spread's ROUND-ROBIN rebalance of an undersized scan
          // is exempt: it fires only when the scan yields fewer splits
          // than the session's parallelism (structurally a no-op at
          // corpus scale), and it is the only way to parallelize
          // compute-heavy projections over a one-row-group file. The
          // load-bearing ban is on KEYED exchanges (join/agg
          // repartitioning), which would move payloads at ANY scale.
          .filterNot(_.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
          .flatMap { e =>
            val allowed = exempt.getOrElse(name, Set.empty)
            val bad = shufflePayloads(e)
              .filterNot(p => allowed(p.takeWhile(_ != ':')))
            if (bad.nonEmpty) Some(s"$name: shuffle carries ${bad.mkString(", ")}") else None
          }
      }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  test("no inventory plan contains a BroadcastNestedLoopJoin or CartesianProduct " +
      "except the named bounded exemptions") {
    // the sibling invariant to the payload ban (the r7-verdict ask): a
    // broadcast nested loop carries no Exchange, so it slipped past the
    // payload detector while shipping the whole corpus to every executor
    // (r7's s10/d18). Ban the plan NODES themselves: any non-equi or
    // cross join in an inventory plan must be a deliberate, bounded one.
    // Exemptions, each with its boundedness witness asserted:
    //  - q22_cross_join: the intentional CROSS JOIN surface — both sides
    //    are dimension tables (region × nation, 125 output rows);
    //  - s01_knn_brute / s09_knn_mmr: the broadcast side is the QUERY
    //    set (vec_id < 10 — the filter is asserted on the build side),
    //    the corpus side stays map-side: the bounded-broadcast pattern.
    //  - q81_kmv_set_ops: the pairwise sketch theta-join
    //    (grp_a < grp_b over the KMV sketch table). The sketch table is
    //    #groups × (k·8 B) BY CONSTRUCTION — compressing each group to a
    //    fixed-size sketch before any pairwise work is the operator's
    //    entire point — so the nested loop touches #groups² sketch rows
    //    no matter how large the orders corpus grows. Witness below:
    //    the theta is on the group key and #groups stays dimension-tiny.
    import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.graft.PlanIntrospection
    //  - s12_knn_sq8: s01's bounded-broadcast pattern (the build side is
    //    the vec_id < 10 query set, here as 64-byte int8 codes); witness
    //    shared with s01/s09 below.
    //  - p02_retrieval_index: s01's bounded-broadcast pattern — the build
    //    side is the query-chunk set (doc_id < 2, witness below), the
    //    corpus chunks stay map-side.
    //  - s16_matryoshka_rerank: s01's bounded-broadcast pattern twice —
    //    both the coarse pass and the rerank broadcast the vec_id < 10
    //    query set; the corpus side stays map-side in phase 1 and is
    //    50 rows/query (the coarse top-50 bounded top-k output) in
    //    phase 2.
    val exempt = Set("q22_cross_join", "s01_knn_brute", "s09_knn_mmr", "s12_knn_sq8",
      "q81_kmv_set_ops", "p02_retrieval_index", "s16_matryoshka_rerank")
    def nestedLoops(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    val violations = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1 == "z01_lineage_extraction") // driver-side analysis
      .flatMap { case (name, fn) =>
        val found = nestedLoops(PlanIntrospection.physicalPlan(fn(spark, sf)))
        if (found.nonEmpty && !exempt(name))
          Some(s"$name: ${found.map(_.nodeName).mkString(", ")}")
        else None
      }
    assert(violations.isEmpty, violations.mkString("\n"))
    // boundedness witnesses for the exemptions that DO nested-loop:
    // s01/s09 must keep the vec_id < 10 query filter on some side of the
    // plan (the bound that makes the broadcast side ~10 rows)
    Seq(("s01_knn_brute", "vec_id", 10), ("s09_knn_mmr", "vec_id", 10),
      ("s12_knn_sq8", "vec_id", 10), ("p02_retrieval_index", "doc_id", 2),
      ("s16_matryoshka_rerank", "vec_id", 10))
      .foreach { case (name, colName, bound) =>
        val plan = PlanIntrospection.physicalPlan(SparkEntry.queries(name)(spark, sf))
        val bounded = plan.exists(_.expressions.exists(_.exists {
          case LessThan(a, Literal(b, _)) if b == bound =>
            a.references.exists(_.name == colName)
          case _ => false
        }))
        assert(bounded, s"$name: expected the $colName < $bound query-set bound in the plan")
      }
    // q22's cross join multiplies two dimension tables — output stays tiny
    assert(SparkEntry.queries("q22_cross_join")(spark, sf).count() <= 1000)
    // q81's nested loops must each theta-join on the GROUP key (grp_a <
    // grp_b) — i.e. operate on the post-sketch groups table, never the
    // raw keys — and the group dimension itself must be tiny: the sketch
    // build's groupBy collapses the corpus to one row per group before
    // any pairwise work, so #groups bounds every BNLJ side.
    locally {
      val q81Plan = PlanIntrospection.physicalPlan(
        SparkEntry.queries("q81_kmv_set_ops")(spark, sf))
      val loops = nestedLoops(q81Plan)
      assert(loops.nonEmpty, "q81 exemption is stale: no nested loop in its plan")
      loops.collect { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        val onGroupKey = j.condition.exists(_.exists {
          case LessThan(a, b) =>
            (a.references ++ b.references).forall(_.name.startsWith("grp_"))
          case _ => false
        })
        assert(onGroupKey,
          s"q81 BNLJ must theta-join on grp_a < grp_b only; got ${j.condition}")
      }
      val nGroups = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderpriority").distinct().count()
      assert(nGroups <= 32, s"q81 group dimension must stay tiny; got $nGroups")
      assert(SparkEntry.queries("q81_kmv_set_ops")(spark, sf).count() ==
        nGroups * (nGroups - 1) / 2)
    }
  }

  test("blockedSelfPairs default sizing: the memory ceiling binds at a 10x " +
      "corpus and per-bucket input stays <= 2*(n/B)") {
    import graft.operators.CrossOps
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id")
    // synthetic 10x corpus, Bench-style disjoint id ranges per copy
    val ten = (0 until 10).map(i =>
        emb.select((col("vec_id") + lit(i * 100000000L)).as("vec_id")))
      .reduce(_.unionAll(_)).cache()
    val n = ten.count()
    // a target small enough that the per-task MEMORY constraint (2n/target)
    // governs B, not the parallelism floor — the regime a 100x cluster job
    // is in, where parallelism-only sizing would let per-task state grow
    // linearly with the corpus
    val target = 1000L
    val b = CrossOps.defaultBlocks(n, spark.sessionState.conf.numShufflePartitions, target)
    assert(b >= math.ceil(2.0 * n / target).toInt,
      s"memory ceiling must govern B at scale: B=$b n=$n target=$target")
    // bucket (i, j) holds blocks i and j (diagonal holds one): with
    // pmod-balanced blocks every bucket's input must stay within 2*(n/B)
    // plus the sequential-id remainder (each copy's blocks differ by <=1)
    val sizes = ten
      .groupBy(pmod(col("vec_id"), lit(b.toLong)).cast("int").as("blk"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxBucket = (for (i <- 0 until b; j <- i until b) yield {
      if (i == j) sizes.getOrElse(i, 0L)
      else sizes.getOrElse(i, 0L) + sizes.getOrElse(j, 0L)
    }).max
    assert(maxBucket <= 2 * (n / b + 10),
      s"per-bucket input $maxBucket exceeds the 2*(n/B) bound (n=$n, B=$b)")
    // per-task row target respected: 2*(n/B) <= 2*target by construction
    assert(2.0 * n / b <= 2.0 * target)
    ten.unpersist()
  }

  test("the payload detector catches a renamed vector riding a keyed shuffle " +
      "(the d15 blind spot of the old name-based ban)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.graft.PlanIntrospection
    // rename the embedding to something no name list would contain, then
    // force a KEYED exchange that carries it — the detector must flag it
    // by TYPE or the inventory invariant above is a naming accident
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("feature_blob"))
      .repartition(col("vec_id"))
      .filter(col("vec_id") >= 0)
    val shuffles = PlanIntrospection.physicalPlan(df)
      .collect { case e: ShuffleExchangeLike => e }
      .filterNot(_.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
    assert(shuffles.nonEmpty, "the probe plan must contain a keyed exchange")
    assert(shuffles.exists(e => shufflePayloads(e).exists(_.startsWith("feature_blob"))),
      s"renamed ARRAY<FLOAT> must be flagged by type; got " +
        shuffles.map(shufflePayloads).mkString("; "))
    // and a same-shaped shuffle of ids only is clean (no false positive)
    val clean = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label")).repartition(col("vec_id"))
      .filter(col("vec_id") >= 0)
    val cleanShuffles = PlanIntrospection.physicalPlan(clean)
      .collect { case e: ShuffleExchangeLike => e }
    assert(cleanShuffles.forall(e => shufflePayloads(e).isEmpty))
  }

  test("runtime bloom-filter join pruning: a selective dim filter injects a " +
      "bloom probe into the fact side of a shuffle join") {
    // the third scan-reduction lever next to static pushdown and DPP: for
    // a SHUFFLE join (broadcast joins get DPP instead), Spark can build a
    // bloom filter from the filtered dim side's join keys and inject a
    // might-contain probe above the fact scan — at 100 TB this turns
    // "shuffle all of lineitem" into "shuffle the ~fraction whose order
    // survives the dim predicate". Thresholds are sized for real
    // clusters, so the spec lowers the application-side floor to fire at
    // fixture scale; the PLAN SHAPE, not the timing, is the assertion.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force the shuffle join
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity")).as("q"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a runtime bloom probe on the fact side:\n${optimized.take(3000)}")
      // and the result is unchanged by the injected filter
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum(col("l_quantity")).as("q"))
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(joined.collect().toSeq === plain.collect().toSeq)
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("filters and projections are pushed to the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") >= 48)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,48.0)]"), scan)
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), scan)
  }

  test("q89 generates pairs basket-locally: the fact table is scanned, " +
      "never self-joined") {
    // the market-basket scale claim in plan form: the fact table is read
    // exactly once — into the materialized baskets table (the q81
    // localCheckpoint shared-table pattern) — so the FINAL plan contains
    // ZERO lineitem scans (all three consumers read the checkpoint; a
    // per-branch build would show four fact scans, which is what this
    // spec caught before the restructure), and no join has fact-derived
    // exchanges on both sides — the C(n,2) fan-out happens inside a
    // projection over the collapsed basket row, not as a fact×fact join
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.graft.PlanIntrospection
    val df = SparkEntry.queries("q89_frequent_pairs")(spark, sf)
    val plan = PlanIntrospection.physicalPlan(df)
    val liScans = plan.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("lineitem")) => s
    }
    assert(liScans.isEmpty,
      s"all branches must consume the materialized baskets table, not re-scan " +
        s"the fact table; got ${liScans.size} lineitem scans")
    // and the basket materialization is genuinely present (not optimized away)
    assert(plan.collect {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }.nonEmpty, "expected the checkpointed baskets RDD scan in the plan")
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val factFactJoins = plan.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }.filter { j =>
      def scansLineitem(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains("lineitem")) => s }.nonEmpty
      scansLineitem(j.children(0)) && scansLineitem(j.children(1))
    }
    assert(factFactJoins.isEmpty,
      s"q89 must not self-join the fact table: ${factFactJoins.map(_.nodeName)}")
  }

  test("q99's global top-10 is a bounded TakeOrdered, never a full sort") {
    // the path-count table is unbounded (one row per distinct path); the
    // top-10 must plan as TakeOrderedAndProject (k-bounded per-partition
    // heaps + one k-row merge), not a global Sort + Limit — the same
    // bounded-top-k discipline q59/q03 pin
    import org.apache.spark.sql.execution.{SortExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.graft.PlanIntrospection
    val plan = PlanIntrospection.physicalPlan(
      SparkEntry.queries("q99_topk_paths")(spark, sf))
    assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"expected TakeOrderedAndProject in:\n$plan")
    val globalSorts = plan.collect { case s: SortExec if s.global => s }
    assert(globalSorts.isEmpty,
      s"q99 must not globally sort the path table: $globalSorts")
  }
}
