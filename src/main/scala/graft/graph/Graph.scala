package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.util.Residency

/** Graph centrality over edge-list DataFrames — the link-authority
  * signals a training-data pipeline ranks sources and curates crawl
  * frontiers by (PageRank: Brin & Page 1998, "The Anatomy of a
  * Large-Scale Hypertextual Web Search Engine", public).
  *
  * Design constraints, in order:
  *
  *   1. INTEGER-EXACT ARITHMETIC. The float formulation's per-node sum
  *      Σ r(u)/outdeg(u) is order-dependent in IEEE doubles — not
  *      hash-portable across engines, and not even run-to-run stable
  *      under a different shuffle partitioning. Here every rank is a
  *      BIGINT number of "mass units" (`scale` units = rank 1.0), every
  *      share is a floor division, and every combine is an integer sum —
  *      associative, commutative, exact. The result replays in ANSI SQL
  *      (a 5-iteration unrolled CTE chain) bit-for-bit. The floor
  *      truncation loses < 1 unit per (node, iteration) — at the default
  *      scale of 1e9 that is a relative error < n·iters/1e9, far below
  *      ranking resolution.
  *   2. SPARK-NATIVE ITERATION. Each power-iteration step is one
  *      shuffle join (ranks ⋈ edges on src) + one aggregate (sum by dst)
  *      — the Pregel message-passing shape expressed declaratively, so
  *      Catalyst/AQE handle partitioning and skew. A fixed, small
  *      iteration count keeps the unrolled plan shallow; production runs
  *      on 100 TB graphs would checkpoint ranks between iterations
  *      (break lineage), which callers can do by persisting the returned
  *      frame and re-entering with `ranksInit`.
  *   3. EXPLICIT SEMANTICS for the classic corner cases: parallel edges
  *      collapse (the edge set is DISTINCT), self-loops drop, and
  *      DANGLING mass (nodes with no out-edges) is dropped rather than
  *      redistributed — the variant used by the original paper's
  *      formulation; totals therefore shrink with dangling mass, which
  *      only rescales (never reorders) the surviving ranks under a
  *      uniform teleport.
  */
object Graph {

  /** Integer-exact PageRank after `iterations` power steps.
    *
    * rank_0(v) = scale;
    * rank_{i+1}(v) = ((dampDen − dampNum)·scale) DIV dampDen
    *               + (dampNum · Σ_{u→v} (rank_i(u) DIV outdeg(u))) DIV dampDen.
    *
    * Returns (node BIGINT, rank BIGINT). Overflow headroom: the damped
    * sum is bounded by dampNum · n · scale, so with the default
    * scale = 1e9 the arithmetic stays inside BIGINT to ~1e8 nodes;
    * larger graphs lower `scale`. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int = 5, scale: Long = 1000000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L,
                  ranksInit: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= dampDen, s"scale must be >= dampDen, got $scale")
    val teleport = ((dampDen - dampNum) * scale) / dampDen

    // Iteration shape, settled by MEASUREMENT in the bench harness (sf0.1
    // supplier graph, ~1M distinct edges, 5 iterations): (a) out-degrees
    // merge into the edge frame ONCE so the loop body joins one invariant
    // frame; (b) the loop stays FULLY LAZY — Spark's ReusedExchange
    // already dedupes the loop-invariant subtrees inside the one
    // materializing job, and the plan depth grows only LINEARLY
    // (single-consumer ranks), so eager per-iteration persists or
    // localCheckpoints just ADD materialization jobs (measured: lazy
    // 5.7 s warm vs eager 7.1 s on the same face; contrast hitsInt,
    // whose two-consumer half-steps DOUBLE the plan per step and
    // genuinely need the checkpoint). RE-CONFIRMED in the r20
    // optimization round: caching the invariants pre-partitioned +
    // pre-sorted on the join keys REGRESSED the face 5.5 → 8.8 s warm —
    // under AQE the cached plan's partitioning/ordering is not
    // propagated to consumers, so the persist only added
    // materialization cost. The returned frame carries no
    // cached state. Many-iteration callers (beyond ~20) should persist
    // the returned ranks and re-enter per segment to bound analysis
    // cost.
    val e = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // distinct edge set ⇒ outdeg is a plain count per src; merged onto
    // the edges once so the loop body joins ONE invariant frame
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("__outdeg")),
      Seq("src"))

    // SEGMENTED iteration for deep runs: integer arithmetic makes
    // resumption EXACT — pageRankInt(e, 3) fed back via `ranksInit` for
    // 2 more iterations equals pageRankInt(e, 5) bit-for-bit
    // (spec-pinned), so a 50-iteration production run is 10 segments of
    // 5 with a persist/checkpoint between segments, keeping each
    // segment's unrolled plan shallow (the class scaladoc's bounded-
    // analysis contract). Nodes absent from `ranksInit` start at the
    // cold `scale` (a grown edge set joins mid-flight); extra init rows
    // for departed nodes are ignored by the join.
    var ranks = ranksInit match {
      case None => nodes.withColumn("rank", lit(scale))
      case Some(init) => nodes
        .join(init.select(col("node"), col("rank").as("__r0")),
          Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__r0"), lit(scale)).cast(LongType).as("rank"))
    }
    for (_ <- 1 to iterations) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank DIV __outdeg").as("__share"))
        .groupBy("node").agg(sum(col("__share")).as("__in"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($dampNum * coalesce(__in, 0L)) DIV $dampDen"))
            .cast(LongType).as("rank"))
    }
    ranks
  }

  /** PERSONALIZED integer-exact PageRank (Haveliwala 2002,
    * "Topic-Sensitive PageRank"; the TrustRank construction of Gyöngyi
    * et al. 2004, public): teleport mass lands ONLY on the `seeds` set,
    * so rank measures proximity to the seeds under the random walk —
    * the propagation crawl pipelines use to score sources by distance
    * from a trusted whitelist. Same integer arithmetic as
    * [[pageRankInt]]; rank_0(v) = [v ∈ S]·scale and the teleport term is
    * [v ∈ S]·((dampDen − dampNum)·scale) DIV dampDen. Nodes unreachable
    * from the seeds converge to rank 0 — that IS the signal. Seeds
    * outside the node set are ignored (they have no edges to walk).
    * Returns (node, rank). */
  def pageRankIntPersonalized(edges: DataFrame, srcCol: String,
                              dstCol: String, seeds: DataFrame,
                              seedCol: String, iterations: Int = 5,
                              scale: Long = 1000000000L, dampNum: Long = 85L,
                              dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= dampDen, s"scale must be >= dampDen, got $scale")
    val teleport = ((dampDen - dampNum) * scale) / dampDen

    // iteration shape: see [[pageRankInt]] — merged out-degrees, fully
    // lazy loop (linear plan growth, ReusedExchange dedupes invariants)
    val e = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val seedSet = seeds
      .select(col(seedCol).cast(LongType).as("node")).distinct()
    // (node, is_seed) — one broadcastable frame both the init and every
    // teleport term read
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedSet.withColumn("__seed", lit(1)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0)).as("__seed"))
    val ew = e.join(e.groupBy("src").agg(count(lit(1)).as("__outdeg")),
      Seq("src"))

    var ranks = nodes.select(col("node"),
      (col("__seed").cast(LongType) * scale).as("rank"))
    for (_ <- 1 to iterations) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("rank DIV __outdeg").as("__share"))
        .groupBy("node").agg(sum(col("__share")).as("__in"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("__seed").cast(LongType) * teleport +
            expr(s"($dampNum * coalesce(__in, 0L)) DIV $dampDen"))
            .cast(LongType).as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** The unrolled ANSI-SQL replay of [[pageRankIntPersonalized]].
    * `seedPred` is a SQL boolean over `node` defining the seed set
    * (e.g. "node % 10 = 0"). */
  def pageRankIntPersonalizedSql(edgeSql: String, seedPred: String,
                                 iterations: Int = 5,
                                 scale: Long = 1000000000L,
                                 dampNum: Long = 85L,
                                 dampDen: Long = 100L): String = {
    val teleport = ((dampDen - dampNum) * scale) / dampDen
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST(n.seed * $teleport + ($dampNum * COALESCE(s.c, 0)) // $dampDen
         |    AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank // od.outdeg) AS c
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN od ON e.src = od.src GROUP BY 1) s ON n.node = s.node)"""
        .stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,
       |    CAST(dst AS BIGINT) AS dst FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT node,
       |    CAST(CASE WHEN $seedPred THEN 1 ELSE 0 END AS BIGINT) AS seed
       |  FROM (SELECT DISTINCT src AS node FROM e
       |    UNION SELECT DISTINCT dst FROM e)),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(seed * $scale AS BIGINT) AS rank FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** WEIGHTED integer-exact PageRank: parallel edges carry mass in
    * proportion to their multiplicity/weight instead of collapsing — the
    * form transaction and click graphs need (a supplier co-filling 1000
    * orders with you is not one link).
    *
    * rank_{i+1}(v) = teleport
    *   + (dampNum · Σ_{u→v} share_w(u, v)) DIV dampDen, where
    * share_w(u, v) = exact floor(rank_i(u)·w(u,v) / wsum(u)), computed
    * WITHOUT forming rank·w (which overflows first): with
    * q = rank DIV wsum and m = rank MOD wsum,
    * floor(rank·w/wsum) = q·w + (m·w) DIV wsum — exact by the division
    * identity, and every factor stays ≤ rank·max(w)/wsum ≈ rank or
    * wsum·w, far inside BIGINT for any real graph.
    *
    * Parallel (src, dst) rows SUM their weights; self-loops drop; rows
    * with NULL or non-positive weight are rejected by a loud filter-time
    * guard (a zero-weight edge is a modeling error, not a 0 share).
    * Returns (node, rank). */
  def pageRankIntWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                          weightCol: String, iterations: Int = 5,
                          scale: Long = 1000000000L, dampNum: Long = 85L,
                          dampDen: Long = 100L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"damping must satisfy 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale >= dampDen, s"scale must be >= dampDen, got $scale")
    // integer-exact algorithm ⇒ integer weights, enforced at the TYPE
    // level: a fractional weight column would silently truncate per edge
    // here while the SQL replay sums raw values before casting — the two
    // formulations would diverge exactly where the hash contract matters
    edges.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"pageRankIntWeighted needs an integral weight column; '$weightCol' " +
          s"is ${t.sql} — scale fractional weights to integers upstream")
    }
    val teleport = ((dampDen - dampNum) * scale) / dampDen

    // iteration shape: see [[pageRankInt]] — weight sums merged onto
    // the edges once, fully lazy loop (ReusedExchange dedupes e's
    // aggregate; the raise_error weight guard fires on whichever
    // evaluation touches the bad edge first — loudness, not once-ness,
    // is the contract)
    val e = edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"),
        coalesce(col(weightCol).cast(LongType), lit(-1L)).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .withColumn("w", when(col("w") > 0, col("w")).otherwise(
        raise_error(concat(lit("pageRankIntWeighted: non-positive or " +
          "null weight on edge "), col("src"), lit("->"), col("dst")))))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val ew = e.join(e.groupBy("src").agg(sum(col("w")).as("__wsum")),
      Seq("src"))

    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to iterations) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          expr("(rank DIV __wsum) * w + ((rank % __wsum) * w) DIV __wsum")
            .as("__share"))
        .groupBy("node").agg(sum(col("__share")).as("__in"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($dampNum * coalesce(__in, 0L)) DIV $dampDen"))
            .cast(LongType).as("rank"))
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources in
    * a Hyperlinked Environment", public), integer-exact: each half-step
    * is a sum over the DISTINCT edge set followed by an integer
    * DOWNSCALE x' = x DIV d with d = 1 + (max(x) − 1) DIV scale — the
    * renormalization HITS needs to converge, in a form where no
    * intermediate ever exceeds the raw sums themselves (the naive
    * (x·scale) DIV max overflows at x·scale ≈ n·scale²). After the
    * downscale the maximum lands in [scale/2, scale], so precision holds
    * at ~9 digits across iterations and the arithmetic replays in SQL.
    * The max is a one-row aggregate cross-joined back (broadcast — no
    * collect, the plan stays lazy and portable). Nodes outside an edge
    * direction hold 0 for that score (a never-cited node has authority
    * 0). Returns (node, authority, hub).
    *
    * DURABILITY: the per-half-step lineage truncation defaults to
    * `localCheckpoint` — executor-local blocks, NOT replayable if an
    * executor is lost mid-computation (fine on local/ephemeral runs: the
    * job fails loudly and reruns). For the 1000-executor / 100 TB run,
    * where losing one executor over a long iteration chain is expected,
    * set `reliableCheckpoint = true` to write each half-step to the
    * SparkContext's checkpoint directory (HDFS/S3) instead — survivable,
    * at the cost of one distributed write per half-step. Requires
    * `spark.sparkContext.setCheckpointDir(...)` to have been called;
    * loud argument error otherwise. */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iterations: Int = 3, scale: Long = 1000000000L,
              reliableCheckpoint: Boolean = false): DataFrame = Residency.eager { s =>
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale > 0, s"scale must be > 0, got $scale")
    require(!reliableCheckpoint ||
        edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint = true needs a checkpoint directory: call " +
        "spark.sparkContext.setCheckpointDir(<reliable storage path>) first")

    val e = s.persist(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct())
    // The a-step joins on src, the h-step on dst — keep ONE extra cached
    // copy per join key (guide §2.4: establish the partitioning once)
    // so neither half-step re-shuffles the edge frame; only the
    // node-sized score frames move per half-step. Edge-frame copies are
    // narrow (two longs) — two cached copies cost less than one
    // re-shuffle per half-step across 2·iterations half-steps.
    val eBySrc = s.persist(e.repartition(col("src")))
    val eByDst = s.persist(e.repartition(col("dst")))
    val nodes = s.persist(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())

    // greatest(max, 1) keeps the divisor's integer ops on non-negative
    // operands — Spark DIV truncates while DuckDB // floors, and they
    // only agree when nothing goes negative.
    //
    // EACH half-step's scores feed TWO consumers (the max aggregate and
    // the downscale projection), so the LOGICAL plan doubles per
    // half-step — after 2·iterations half-steps Catalyst re-analyzes
    // 2^(2·iterations) copies of the deepest subtree and the driver, not
    // the executors, becomes the bottleneck (measured: 7 s for one
    // iteration → 184 s for three on the sf0.1 bipartite graph; caching
    // alone does NOT help because planning cost, not recompute, is what
    // explodes). The eager localCheckpoint TRUNCATES the lineage to a
    // materialized node-sized leaf — the [[graft.serve.NearDupService]]
    // precedent for iterative frames. */
    def renorm(scores: DataFrame, c: String): DataFrame = {
      // The half-step scores feed TWO actions (the max aggregate and the
      // checkpoint materialization), and each used to recompute the full
      // edge-join + aggregate subtree — persist them for the duration of
      // the two reads and release immediately (measured: the double
      // compute was ~40% of the face's executor time; results unchanged,
      // the downscale reads the same rows either way).
      val cached = s.persist(scores)
      val mx = cached.agg(greatest(max(col(c)), lit(1L)).as("__mx"))
      val out = Residency.pin(cached.crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"$c DIV (1L + (__mx - 1L) DIV ${scale}L)").as(c)), reliableCheckpoint)
      s.release(cached)
      out
    }

    var hubs = nodes.withColumn("hub", lit(scale))
    // reassigned from the a-step before any read (iterations >= 1) —
    // the initializer only gives the var a well-typed starting value
    var auths = nodes.withColumn("authority", lit(0L))
    for (_ <- 1 to iterations) {
      val aRaw = eBySrc.join(hubs.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("authority"))
      auths = renorm(
        nodes.join(aRaw, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("authority"), lit(0L)).as("authority")),
        "authority")
      val hRaw = eByDst.join(auths.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("authority")).as("hub"))
      hubs = renorm(
        nodes.join(hRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub")),
        "hub")
    }
    auths.join(hubs, Seq("node"))
      .select(col("node"), col("authority"), col("hub"))
  }

  /** The unrolled ANSI-SQL replay of [[pageRankInt]] — the oracle text
    * generator, kept NEXT TO the engine code so the two formulations
    * cannot drift apart silently. `edgeSql` must yield (src, dst) BIGINT
    * columns (deduplication and self-loop removal are applied here). */
  def pageRankIntSql(edgeSql: String, iterations: Int = 5,
                     scale: Long = 1000000000L, dampNum: Long = 85L,
                     dampDen: Long = 100L): String = {
    val teleport = ((dampDen - dampNum) * scale) / dampDen
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST($teleport + ($dampNum * COALESCE(s.c, 0)) // $dampDen
         |    AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank // od.outdeg) AS c
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN od ON e.src = od.src GROUP BY 1) s ON n.node = s.node)"""
        .stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,
       |    CAST(dst AS BIGINT) AS dst FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** The unrolled ANSI-SQL replay of [[pageRankIntWeighted]]. `edgeSql`
    * must yield (src, dst, w); parallel rows sum here exactly as the
    * engine sums them, and the share uses the same overflow-safe
    * division identity. */
  def pageRankIntWeightedSql(edgeSql: String, iterations: Int = 5,
                             scale: Long = 1000000000L, dampNum: Long = 85L,
                             dampDen: Long = 100L): String = {
    val teleport = ((dampDen - dampNum) * scale) / dampDen
    val steps = (1 to iterations).map { i =>
      s"""r$i AS (SELECT n.node,
         |  CAST($teleport + ($dampNum * COALESCE(s.c, 0)) // $dampDen
         |    AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      SUM((r.rank // ws.wsum) * e.w
         |        + ((r.rank % ws.wsum) * e.w) // ws.wsum) AS c
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN ws ON e.src = ws.src GROUP BY 1) s ON n.node = s.node)"""
        .stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
       |    CAST(SUM(w) AS BIGINT) AS w FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT node, rank FROM r$iterations""".stripMargin
  }

  /** The unrolled ANSI-SQL replay of [[hitsInt]] — one (raw sum, max,
    * downscale) CTE triple per half-step, the same integer divisor
    * formula. */
  def hitsIntSql(edgeSql: String, iterations: Int = 3,
                 scale: Long = 1000000000L): String = {
    val steps = (1 to iterations).map { i =>
      s"""a${i}r AS (SELECT n.node, CAST(COALESCE(s.x, 0) AS BIGINT)
         |    AS authority
         |  FROM nodes n LEFT JOIN (SELECT e.dst AS node, SUM(h.hub) AS x
         |    FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1) s
         |  ON n.node = s.node),
         |a${i}m AS (SELECT GREATEST(MAX(authority), 1) AS mx FROM a${i}r),
         |a$i AS (SELECT node, CAST(authority
         |    // (1 + (mx - 1) // $scale) AS BIGINT) AS authority
         |  FROM a${i}r, a${i}m),
         |h${i}r AS (SELECT n.node, CAST(COALESCE(s.x, 0) AS BIGINT) AS hub
         |  FROM nodes n LEFT JOIN (SELECT e.src AS node, SUM(a.authority) AS x
         |    FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1) s
         |  ON n.node = s.node),
         |h${i}m AS (SELECT GREATEST(MAX(hub), 1) AS mx FROM h${i}r),
         |h$i AS (SELECT node, CAST(hub
         |    // (1 + (mx - 1) // $scale) AS BIGINT) AS hub
         |  FROM h${i}r, h${i}m)""".stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,
       |    CAST(dst AS BIGINT) AS dst FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |h0 AS (SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes),
       |${steps.mkString(",\n")}
       |SELECT a.node, a.authority, h.hub
       |FROM a$iterations a JOIN h$iterations h ON a.node = h.node"""
      .stripMargin
  }

  /** Per-node TRIANGLE counts over the undirected simple graph —
    * (node, triangles, deg, wedges), where `wedges` = deg·(deg−1) DIV 2
    * is the node's open-wedge capacity, so the local clustering
    * coefficient is the exact rational triangles/wedges and the global
    * (transitivity) coefficient is Σtriangles / Σwedges — both kept as
    * INTEGER numerator/denominator, never divided, so the whole frame is
    * hash-portable.
    *
    * Execution is the DEGREE-ORIENTED wedge join (Suri & Vassilvitskii
    * 2011, "Counting Triangles and the Curse of the Last Reducer",
    * WWW — public): each undirected edge is oriented from its lower
    * (degree, node) endpoint to the higher, every triangle is then
    * discovered EXACTLY ONCE (as a wedge at its minimum-order apex
    * closed by the third oriented arc), and — the scale property — the
    * wedge fan-out per node is bounded by the ORIENTED out-degree,
    * O(√m), so candidate wedges total O(m^{3/2}) instead of the naive
    * Σ deg² that melts down on skewed degree distributions ("the curse
    * of the last reducer"). All joins are equi-joins on node keys
    * (shuffle-partitionable); nothing is ever all-pairs.
    *
    * Directionality of the input is ignored (edges are canonicalized
    * u < v and deduplicated); self-loops drop. */
  def triangleCounts(edges: DataFrame, srcCol: String,
                     dstCol: String): DataFrame = Residency.eager { s =>
    val raw = edges.select(col(srcCol).cast(LongType).as("s"),
        col(dstCol).cast(LongType).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    // The canonicalized edge frame feeds deg (both unionAll arms) and ed
    // — and exchange reuse does NOT dedupe those consumers (pruned
    // projections give each a structurally different exchange; measured
    // FOUR full edge-projection builds per face at sf0.1, ~2.1 s of CPU
    // each on the lineitem co-purchase input). Persist it once; same for
    // `adj`, which feeds both sides of the wedge join below. Both are
    // released after one materializing action over the node-sized result
    // (the family's bounded-residency contract — the operator is EAGER
    // like hitsInt/kCoreNodes).
    val e = s.persist(raw.select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v")).distinct())
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), Seq("v"))
    // orient low → high by (degree, node); carry the head's order key so
    // the wedge join can order its two heads without re-joining degrees
    val uFirst = col("__du") < col("__dv") ||
      (col("__du") === col("__dv") && col("u") < col("v"))
    val arcs = s.persist(ed.select(
        when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b")))
    // Adjacency-array intersection, NOT a materialized wedge join: the
    // triangle x<y<z (in orientation order) is found ONLY at its base
    // arc (x, y), as each common oriented OUT-neighbor z of x and y.
    // The wedge-join formulation shuffles |wedges| ≈ m·√m rows to the
    // closing join (measured 39 s warm at sf0.1, ~19M wedges); here the
    // only shuffles are arcs keyed by each endpoint (m rows each), the
    // per-arc intersection runs inside the join projection, and only
    // CLOSED wedges — actual triangles — leave it (1.88M triangles vs
    // ~19M wedges on the sf0.1 part co-purchase face). Out-adjacency
    // arrays are bounded by the ORIENTED out-degree (O(√m) per node,
    // the Suri–Vassilvitskii guarantee), so no array and no join group
    // is ever hub-sized. Face warm times, like-for-like machine: 39 s
    // (wedge join, per-corner unions) → 11.8 s (wedge join, one explode
    // pass) → 8.2 s (this shape).
    //
    // `adj` is PERSISTED for its two join consumers (the r20 shape
    // re-ran the collect_list aggregate once per side). An r21 attempt
    // to also re-derive the probe arcs by exploding `adj` (one wedge
    // join instead of two) REGRESSED 7.6 → 9.1 s warm-median: dropping
    // the arcs persist let AQE coalesce the lazy arc projection to ~3
    // tasks under the adjacency aggregate, serializing it — recorded
    // negative result, the pageRank precedent.
    val adj = s.persist(arcs.groupBy(col("a").as("node"))
      .agg(collect_list(col("b")).as("nbrs")))
    val tri = arcs
      .join(adj.select(col("node").as("a"), col("nbrs").as("__na")), Seq("a"))
      .join(adj.select(col("node").as("b"), col("nbrs").as("__nb")), Seq("b"))
      .select(col("a").as("x"), col("b").as("y"),
        explode(array_intersect(col("__na"), col("__nb"))).as("z"))
    // one corner-explode pass, NOT three unioned projections of `tri` —
    // a union would re-run the whole triangle pipeline once per corner
    // (measured 3x the face cost at sf0.1)
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__t"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("__t"), lit(0L)).as("triangles"),
        col("deg"), expr("deg * (deg - 1L) DIV 2").as("wedges"))
  }

  /** The ANSI-SQL replay of [[triangleCounts]] — same orientation, same
    * wedge join, integer counts throughout. */
  def triangleCountsSql(edgeSql: String): String =
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT
       |    LEAST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS u,
       |    GREATEST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS v
       |  FROM raw_e WHERE src IS NOT NULL AND dst IS NOT NULL
       |    AND src <> dst),
       |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
       |arcs AS (SELECT
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.u < e.v)
       |      THEN e.u ELSE e.v END AS a,
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.u < e.v)
       |      THEN e.v ELSE e.u END AS b,
       |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND e.u < e.v)
       |      THEN d2.deg ELSE d1.deg END AS db
       |  FROM e JOIN deg d1 ON e.u = d1.node JOIN deg d2 ON e.v = d2.node),
       |tri AS (SELECT w1.a AS x, w1.b AS y, w2.b AS z
       |  FROM arcs w1 JOIN arcs w2 ON w1.a = w2.a
       |    AND (w1.db < w2.db OR (w1.db = w2.db AND w1.b < w2.b))
       |  JOIN arcs c ON c.a = w1.b AND c.b = w2.b),
       |cnt AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri) GROUP BY 1)
       |SELECT d.node, CAST(COALESCE(c.t, 0) AS BIGINT) AS triangles, d.deg,
       |  CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS wedges
       |FROM deg d LEFT JOIN cnt c ON d.node = c.node""".stripMargin

  /** Minimum hop distance from a seed set, bounded at `maxHops` —
    * breadth-first FRONTIER EXPANSION, the crawl-frontier primitive
    * ("everything within k links of the trusted set"). Returns
    * (node, hop INTEGER) for every node reached within `maxHops` (seeds
    * at hop 0); unreached nodes are ABSENT, which is the signal. Seeds
    * outside the node set are ignored (no edges to walk).
    *
    * Each level is one equi-join (edges ⋈ frontier on src) + one
    * anti-join against the reached set — both shuffle-partitionable by
    * node key, never more than frontier-sized. Every level is EAGERLY
    * pinned (localCheckpoint, or a reliable `checkpoint` under the
    * [[hitsInt]] knob): the reached set feeds TWO consumers per level
    * (the anti-join and the growing union), exactly the plan-doubling
    * shape that blew HITS to 184 s lazily — pinning keeps plan growth
    * linear in `maxHops`, and the pinned frames are node-sized, not
    * edge-sized. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String, maxHops: Int,
              reliableCheckpoint: Boolean = false): DataFrame = Residency.eager { s =>
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    require(!reliableCheckpoint ||
        edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint = true needs a checkpoint directory: call " +
        "spark.sparkContext.setCheckpointDir(<reliable storage path>) first")
    // persisted PRE-PARTITIONED on src (guide §2.4): every level joins
    // `e` on src, and without this the edge frame re-shuffled per level
    // (measured ~23 MB exchange write per level at sf0.1) — partitioned
    // once, each level only moves the frontier.
    val e = s.persist(edges
      .select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .repartition(col("src")))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    def pin(df: DataFrame): DataFrame = Residency.pin(df, reliableCheckpoint)
    var frontier = pin(nodes
      .join(seeds.select(col(seedCol).cast(LongType).as("node")).distinct(),
        Seq("node"))
      .select(col("node"),
        lit(0).cast(org.apache.spark.sql.types.IntegerType).as("hop")))
    var reached = frontier
    for (i <- 1 to maxHops) {
      val nbrs = e
        .join(frontier.select(col("node").as("src")), Seq("src"))
        .select(col("dst").as("node")).distinct()
      val fresh = pin(nbrs
        .join(reached.select("node"), Seq("node"), "left_anti")
        .select(col("node"),
          lit(i).cast(org.apache.spark.sql.types.IntegerType).as("hop")))
      frontier = fresh
      reached = reached.unionAll(fresh)
    }
    reached
  }

  /** K-CORE decomposition, bounded at `rounds` peel iterations: nodes of
    * the undirected simple graph surviving repeated removal of
    * degree < k nodes, with their degree INSIDE the surviving subgraph —
    * the density-core filter crawl/link pipelines use to separate
    * well-embedded pages from peripheral chaff (Seidman 1983, "Network
    * structure and minimum degree", Social Networks — public). Returns
    * (node, deg), deg ≥ 1; isolated survivors (all neighbors peeled,
    * degree 0) drop out with their last edge, and a node's reported
    * degree is its END-state degree after the final peel.
    *
    * Each round is one degree aggregate + two semi-joins — all keyed by
    * node, shuffle-partitionable, never wider than the edge set. The
    * SURVIVOR set feeds two consumers per round (both endpoint
    * semi-joins), the HITS/BFS plan-doubling shape, so each round's
    * survivors are eagerly pinned (node-sized; `reliableCheckpoint`
    * knob as in [[hitsInt]]). `rounds` > 0 truncates from above: every
    * round only removes nodes, a fixpoint makes further rounds no-ops.
    *
    * `rounds = 0` means ITERATE TO FIXPOINT — the exact k-core: peel
    * until a round removes nothing, detected by a survivor-COUNT check
    * against the previous round (survivor sets shrink monotonically, so
    * an equal count IS set equality, hence an edge-set fixpoint and
    * deg ≥ k for every remaining node). The per-round count is one tiny
    * driver read over the already-pinned node-sized survivor frame —
    * not a data-path collect. `maxRounds` fail-fasts a runaway cascade
    * (the [[graft.dedup.Dedup.duplicateClusters]] discipline): the peel
    * provably terminates in ≤ |V| rounds, but a wrong-k call on a
    * pathological path graph would otherwise iterate node-count times,
    * and 64 rounds of localCheckpoint pressure is where to stop and
    * tell the operator, not silently grind. */
  def kCoreNodes(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int,
                 reliableCheckpoint: Boolean = false,
                 maxRounds: Int = 64): DataFrame =
    kCoreNodesCounted(edges, srcCol, dstCol, k, rounds,
      reliableCheckpoint, maxRounds)._1

  /** [[kCoreNodes]] that ALSO reports the measured peel depth —
    * (core frame, peelRounds). In fixpoint mode (`rounds = 0`)
    * peelRounds counts the rounds up to survivor-count stability
    * (≥ 1 — the first survivor projection always counts; the final
    * confirming no-op round does not), which is what an unrolled
    * fixed-depth replay needs to certify it is still exact: an
    * N-round unrolled peel equals the fixpoint iff peelRounds ≤ N, so
    * a gate can assert the measured depth and fail LOUDLY as a
    * stale-oracle error when a fixture change deepens the cascade —
    * instead of silently diverging from its replay. In bounded mode
    * peelRounds is simply `rounds` (the peels applied, no-ops
    * included). */
  def kCoreNodesCounted(edges: DataFrame, srcCol: String, dstCol: String,
                        k: Int, rounds: Int,
                        reliableCheckpoint: Boolean = false,
                        maxRounds: Int = 64): (DataFrame, Int) = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0,
      s"rounds must be >= 0 (0 = iterate to fixpoint), got $rounds")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    require(!reliableCheckpoint ||
        edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint = true needs a checkpoint directory: call " +
        "spark.sparkContext.setCheckpointDir(<reliable storage path>) first")
    def pin(df: DataFrame): DataFrame = Residency.pin(df, reliableCheckpoint)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var peelRounds = 0
    val core = Residency.eager { s =>
      val raw = edges.select(col(srcCol).cast(LongType).as("s"),
          col(dstCol).cast(LongType).as("d"))
        .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      val e0 = s.persist(raw.select(least(col("s"), col("d")).as("u"),
          greatest(col("s"), col("d")).as("v")).distinct())
      var e = e0
      // Each round's surviving-edge frame is PINNED alongside the
      // survivor set: leaving `e` lazy re-derived the accumulated
      // semi-join chain from e0 in every later round's degree aggregate
      // AND in the final one — O(depth²) semi-joins total, compounding
      // with peel depth at scale. The pin costs one edge-sized
      // materialization per round (same checkpoint knob as the
      // node-sized survivor pins) and caps every round at one degree
      // aggregate + two semi-joins over a materialized frame;
      // GraphSpec's deep-peel path fixture pins the depth-independence.
      def peel(ein: DataFrame, surv: DataFrame): DataFrame =
        pin(ein
          .join(surv.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
          .join(surv.withColumnRenamed("node", "v"), Seq("v"), "left_semi"))
      if (rounds > 0) {
        for (_ <- 1 to rounds) {
          val surv = pin(degrees(e).filter(col("deg") >= k).select("node"))
          e = peel(e, surv)
        }
        peelRounds = rounds
      } else {
        var prev = -1L
        var round = 0
        var stable = false
        while (!stable) {
          round += 1
          if (round > maxRounds)
            throw new IllegalStateException(
              s"k-core peel (k = $k) did not stabilize within $maxRounds " +
                "rounds — raise maxRounds, or use a bounded `rounds` if a " +
                "truncated peel is acceptable")
          val surv = pin(degrees(e).filter(col("deg") >= k).select("node"))
          val cnt = surv.count()
          if (cnt == prev) stable = true
          else {
            prev = cnt
            peelRounds = round
            e = peel(e, surv)
          }
        }
      }
      degrees(e)
    }
    (core, peelRounds)
  }

  /** Deterministic synchronous LABEL-PROPAGATION community detection
    * (Raghavan, Albert & Kumara 2007, "Near linear time algorithm to
    * detect community structures in large-scale networks", Phys. Rev. E
    * — public): labels start as node ids; each round, every node adopts
    * the label most frequent among its neighbors, ties broken by the
    * SMALLEST label — the determinism rule that makes the fixture
    * replayable in ANY engine (the paper's random tie-break and
    * asynchronous visit order are the two sources of run variance;
    * synchronous rounds + min-label ties remove both). Densely
    * interconnected regions converge onto one label within a few
    * rounds; `rounds` bounds the walk like [[bfsHops]]' maxHops
    * (synchronous LPA can two-cycle on bipartite-ish structure, so a
    * fixpoint loop is NOT the right default here — bounded rounds is
    * the paper-faithful stopping rule for the sync variant). Returns
    * (node, label BIGINT) for every node of the undirected simple
    * graph.
    *
    * Scale shape: each round is one edge-sized equi-join (bidirected
    * arcs ⋈ labels on the neighbor key — the arcs are persisted
    * pre-partitioned on that key, so only the node-sized labels move
    * per round) + one (node, label) count with map-side partials + one
    * arg-max aggregate (min over (−count, label) structs — the window
    * form's result without its per-round sort). Labels feed exactly one
    * consumer per round but the chain compounds — per-round pinning
    * keeps the plan linear ([[kCoreNodes]] discipline), frames stay
    * node-sized. */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
                  rounds: Int,
                  reliableCheckpoint: Boolean = false): DataFrame = Residency.eager { s =>
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(!reliableCheckpoint ||
        edges.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoint = true needs a checkpoint directory: call " +
        "spark.sparkContext.setCheckpointDir(<reliable storage path>) first")
    val raw = edges.select(col(srcCol).cast(LongType).as("s"),
        col(dstCol).cast(LongType).as("d"))
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val e = raw.select(least(col("s"), col("d")).as("u"),
        greatest(col("s"), col("d")).as("v")).distinct()
    // bidirected arcs: propagation is symmetric over the undirected graph.
    // Persisted PRE-PARTITIONED on the join key (guide §2.4 — establish
    // the partitioning once): every round joins `bi` on `src`, and
    // without this the edge frame re-shuffled EVERY round (measured
    // 22.5 MB exchange write per round at sf0.1); hash-partitioned and
    // cached, the per-round join only exchanges the node-sized labels.
    val bi = s.persist(e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src")))
    var labels = bi.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val counts = bi
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
      // arg-max by AGGREGATE, not window: min(struct(−count, label))
      // picks exactly the window's (count DESC, label ASC) head —
      // most-frequent label, smallest on ties — while replacing the
      // window's exchange-by-node + full sort with a partially
      // aggregated min (map-side partials, no sort). Same labels,
      // one less sort pass per round.
      labels = Residency.pin(counts
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("__nc"), col("label")))
          .getField("label").as("label")), reliableCheckpoint)
    }
    labels
  }

  /** The unrolled ANSI-SQL replay of [[communities]]: one
    * (count, row_number) CTE pair per round, same min-label tie-break. */
  def communitiesSql(edgeSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS (SELECT b.dst AS node, l.label,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM bi b JOIN l${i - 1} l ON b.src = l.node GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (SELECT node, label,
         |    ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY c DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
        .stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT
       |    LEAST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS u,
       |    GREATEST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS v
       |  FROM raw_e WHERE src IS NOT NULL AND dst IS NOT NULL
       |    AND src <> dst),
       |bi AS (SELECT u AS src, v AS dst FROM e
       |  UNION ALL SELECT v AS src, u AS dst FROM e),
       |l0 AS (SELECT node, node AS label FROM
       |  (SELECT DISTINCT src AS node FROM bi)),
       |${steps.mkString(",\n")}
       |SELECT node, label FROM l$rounds""".stripMargin
  }

  /** SEED-SCOPED link prediction by common-neighbor count (the
    * Liben-Nowell & Kleinberg 2003 baseline, "The link prediction
    * problem for social networks", CIKM — public): for each seed node,
    * the top-`k` non-adjacent candidates ranked by the number of shared
    * neighbors — the "items related to THIS item" recommendation shape.
    * Returns (seed, candidate, common_neighbors, rec_rank), candidates
    * with ≥ `minCommon` shared neighbors, ties by candidate id.
    *
    * Scoped to a QUERY SEED SET on purpose: exact ALL-pairs
    * common-neighbor counting is the open-wedge sum Σ C(deg, 2) — the
    * "curse of the last reducer" workload that orientation cannot fix
    * (unlike triangles, every wedge configuration must be counted, not
    * just closed apex-minimal ones) — whereas the seeded form walks
    * exactly the 2-hop paths OUT OF the seeds: cost is
    * Σ_{s∈S} Σ_{n∈N(s)} deg(n), bounded by the seed set, independent of
    * graph-wide skew. Self and already-adjacent candidates are excluded
    * (predicting an existing edge is not a prediction). Directed
    * inputs: a "neighbor" is an out-neighbor; co-occurrence projections
    * are symmetric so the distinction vanishes there. */
  def commonNeighborRecs(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String, k: Int,
                         minCommon: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCommon >= 1L, s"minCommon must be >= 1, got $minCommon")
    val eRaw = edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    // prune FIRST, dedupe the survivors: a global edge distinct() would
    // shuffle the whole graph before the seed set touches anything
    // (measured 4.4 s warm vs 2.2 s on the sf0.1 face); both prune
    // joins are frontier-sized on one side, so Catalyst broadcasts them
    // at serving scale and AQE falls back to shuffles for huge seed
    // sets — either way only 2-hop-relevant edges ever reach a shuffle.
    val sN = eRaw.join(seeds.select(col(seedCol).cast(LongType).as("src"))
        .distinct(), Seq("src"))
      .select(col("src").as("seed"), col("dst").as("__n")).distinct()
    val hop2 = eRaw
      .join(sN.select(col("__n").as("src")).distinct(), Seq("src"),
        "left_semi")
      .distinct()
    val cand = sN
      .join(hop2.withColumnRenamed("src", "__n"), Seq("__n"))
      .filter(col("dst") =!= col("seed"))
      .groupBy(col("seed"), col("dst").as("candidate"))
      .agg(count(lit(1)).as("common_neighbors"))
      .filter(col("common_neighbors") >= minCommon)
      // drop candidates already adjacent to the seed
      .join(sN.select(col("seed"), col("__n").as("candidate")),
        Seq("seed", "candidate"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seed")
      .orderBy(col("common_neighbors").desc, col("candidate"))
    cand.withColumn("rec_rank",
        row_number().over(w).cast(org.apache.spark.sql.types.IntegerType))
      .filter(col("rec_rank") <= k)
  }

  /** The ANSI-SQL replay of [[commonNeighborRecs]] — `seedPred` over
    * `node` as in [[pageRankIntPersonalizedSql]]. */
  def commonNeighborRecsSql(edgeSql: String, seedPred: String, k: Int,
                            minCommon: Long = 1L): String =
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,
       |    CAST(dst AS BIGINT) AS dst FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |seeds AS (SELECT node FROM (SELECT DISTINCT src AS node FROM e)
       |  WHERE $seedPred),
       |sn AS (SELECT e.src AS seed, e.dst AS n FROM e
       |  JOIN seeds s ON e.src = s.node),
       |cand AS (SELECT sn.seed, e.dst AS candidate,
       |    CAST(count(*) AS BIGINT) AS common_neighbors
       |  FROM sn JOIN e ON e.src = sn.n
       |  WHERE e.dst <> sn.seed
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minCommon),
       |nonadj AS (SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM sn
       |    WHERE sn.seed = c.seed AND sn.n = c.candidate)),
       |ranked AS (SELECT seed, candidate, common_neighbors,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY seed
       |      ORDER BY common_neighbors DESC, candidate) AS INTEGER)
       |      AS rec_rank
       |  FROM nonadj)
       |SELECT seed, candidate, common_neighbors, rec_rank
       |FROM ranked WHERE rec_rank <= $k""".stripMargin

  /** The unrolled ANSI-SQL replay of [[kCoreNodes]]. */
  def kCoreNodesSql(edgeSql: String, k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""s$i AS (SELECT node FROM (
         |    SELECT node, count(*) AS deg FROM (
         |      SELECT u AS node FROM e${i - 1}
         |      UNION ALL SELECT v FROM e${i - 1}) GROUP BY 1)
         |  WHERE deg >= $k),
         |e$i AS (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM s$i)
         |    AND v IN (SELECT node FROM s$i))""".stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e0 AS (SELECT DISTINCT
       |    LEAST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS u,
       |    GREATEST(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS v
       |  FROM raw_e WHERE src IS NOT NULL AND dst IS NOT NULL
       |    AND src <> dst),
       |${steps.mkString(",\n")}
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY 1""".stripMargin
  }

  /** The unrolled ANSI-SQL replay of [[bfsHops]]. `seedPred` is a SQL
    * boolean over `node` defining the seed set (the
    * [[pageRankIntPersonalizedSql]] convention). */
  def bfsHopsSql(edgeSql: String, seedPred: String, maxHops: Int): String = {
    val steps = (1 to maxHops).map { i =>
      s"""f$i AS (SELECT DISTINCT e.dst AS node FROM e
         |  JOIN f${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM r${i - 1})),
         |r$i AS (SELECT node, hop FROM r${i - 1}
         |  UNION ALL SELECT node, CAST($i AS INTEGER) AS hop FROM f$i)"""
        .stripMargin
    }
    s"""WITH raw_e AS ($edgeSql),
       |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src,
       |    CAST(dst AS BIGINT) AS dst FROM raw_e
       |  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |  UNION SELECT DISTINCT dst FROM e),
       |f0 AS (SELECT node FROM nodes WHERE $seedPred),
       |r0 AS (SELECT node, CAST(0 AS INTEGER) AS hop FROM f0),
       |${steps.mkString(",\n")}
       |SELECT node, hop FROM r$maxHops""".stripMargin
  }
}
