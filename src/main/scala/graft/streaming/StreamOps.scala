package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.dedup.Dedup

/** One first-crossing alert per key (see [[StreamOps.thresholdAlerts]]). */
case class ThresholdAlert(key: Long, n_events: Long, total: Double)

/** Streaming counterparts of the batch dedup family, plus custom-state
  * operators built on `flatMapGroupsWithState`. */
object StreamOps {

  /** Emit-on-transition alerting: for each key, emit EXACTLY ONE row the
    * first time the running sum of `valueCol` crosses `threshold` —
    * capturing the event count and total at the crossing. The
    * budget/fraud/quota alerting shape.
    *
    * This is the `flatMapGroupsWithState` escalation point (SURVEY §2.12):
    * a windowed aggregate in update mode can tell you the total is now
    * over the threshold, but it re-emits on EVERY later update and cannot
    * distinguish the crossing from life after it — "fire once, then stay
    * silent" needs previous-state comparison, i.e. custom state. State per
    * key is three fixed-width fields (count, sum, alerted); with
    * NoTimeout it lives for the query lifetime, which is the correct
    * semantics for a monotone lifetime budget — wire
    * `GroupStateTimeout.ProcessingTimeTimeout` + `state.setTimeoutDuration`
    * in the caller's variant when keys must age out. */
  def thresholdAlerts(events: DataFrame, threshold: Double,
                      keyCol: String = "user_id",
                      valueCol: String = "value"): Dataset[ThresholdAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    // drop rows whose key or value is (or casts to) null BEFORE the typed
    // encoder: decoding null into the primitive tuple fields would throw
    // and terminate the whole long-running alerting query over one
    // poisoned event
    events.selectExpr(s"CAST($keyCol AS LONG) AS k",
        s"CAST($valueCol AS DOUBLE) AS v")
      .filter(col("k").isNotNull && col("v").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double, Boolean)]) =>
          var (n, sum, alerted) = state.getOption.getOrElse((0L, 0.0, false))
          var fired: Option[ThresholdAlert] = None
          rows.foreach { case (_, v) =>
            n += 1; sum += v
            if (!alerted && sum >= threshold) {
              alerted = true
              fired = Some(ThresholdAlert(key, n, sum))
            }
          }
          state.update((n, sum, alerted))
          fired.iterator
      }
  }

  /** Streaming exact dedup: drop rows whose `keys` were already seen within
    * the watermark horizon. State is evicted once the event-time watermark
    * passes, so state size is bounded by the horizon — the only
    * mechanically safe way to run exact dedup over an unbounded stream. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           tsCol: String = "ts",
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming MinHash near-dup suppression: drop a document whose MinHash
    * signature key was already seen within the watermark horizon.
    *
    * Shape: the signature is a pure per-row expression
    * (`Dedup.minHashSigKey` — map-only, value-identical to the batch
    * aggregate path), so the whole pipeline has exactly ONE stateful
    * operator, the watermark-bounded dropDuplicates. State holds one
    * fixed-width 64-bit key per distinct signature in the horizon — never
    * the text — so state size is bounded by (docs in horizon) × ~tens of
    * bytes regardless of document length.
    *
    * Semantics: signature-IDENTICAL suppression. Exact duplicates always
    * collapse (same text ⇒ same signature, so the kept set is a subset of
    * batch [[graft.dedup.Dedup.exactDedup]]'s); near-identical docs
    * collapse only when their shingle sets coincide. Banded
    * any-bucket-match recall (the batch `minHashNearDups` contract) needs
    * cross-row candidate JOINS, which an unbounded stream can't do with
    * bounded state — run the batch operator over micro-batch compactions
    * when that recall is required. */
  def nearDupSuppressWithinWatermark(docs: DataFrame, textCol: String,
                                     tsCol: String = "ts",
                                     watermark: String = "1 hour",
                                     numHashes: Int = 64,
                                     shingleK: Int = 5): DataFrame = {
    // __norm is materialized (multiply-referenced by the shingle builder,
    // so CollapseProject keeps it — inlined, every shingle position
    // re-runs lower∘regexp_replace: O(len²) per row); the hash array
    // needs no column of its own because it sits in the AGGREGATE-INPUT
    // position of minHashSigArrayFromHashes, which Spark evaluates once
    // per row structurally. Scratch names are guarded like the sibling
    // incrementalNearDupStream's reserved set.
    val reserved = Set("__norm", "__sig_key")
    val clashes = docs.columns.filter(reserved)
    require(clashes.isEmpty,
      s"nearDupSuppressWithinWatermark reserves columns " +
        s"${reserved.mkString(", ")}; input already has " +
        s"${clashes.mkString(", ")} — rename them first")
    docs
      .withColumn("__norm",
        lower(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("__sig_key",
        xxhash64(Dedup.minHashSigArrayFromHashes(
          transform(
            graft.text.TextOps.charShinglesFromNorm(col("__norm"), shingleK),
            s => xxhash64(s)),
          numHashes)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig_key")
      .drop("__sig_key", "__norm")
  }

  /** Stream-stream INTERVAL join — the attribution/enrichment shape (click
    * joined to the impression it followed, error joined to the deploy that
    * preceded it): inner-join two streams on `keys` where
    * `rightTs − leftTs ∈ [lowerSec, upperSec]`.
    *
    * Both inputs get event-time watermarks, and the time-range predicate is
    * what makes unbounded state safe: Spark derives, from watermark +
    * range, how long each side's rows can still find a match, and evicts
    * state past that horizon — state is bounded by (rows in horizon),
    * not by stream length. Without the range condition a stream-stream
    * inner join must hold EVERY row forever; this operator makes the
    * bounded form the easy path.
    *
    * Contract: `leftTs`/`rightTs` must be distinct names; right-side
    * non-key, non-ts column names must not collide with left's (the output
    * carries left.* plus right's non-key columns). Works unchanged on
    * batch frames (`withWatermark` is a no-op in batch), which is how the
    * spec proves stream ≡ batch. */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keys: Seq[String],
                         leftTs: String, rightTs: String,
                         lowerSec: Long, upperSec: Long,
                         leftWatermark: String = "1 hour",
                         rightWatermark: String = "1 hour"): DataFrame = {
    require(leftTs != rightTs,
      s"leftTs and rightTs must be distinct column names, both are '$leftTs'")
    require(lowerSec <= upperSec, s"need lowerSec <= upperSec, got $lowerSec/$upperSec")
    val l = left.withWatermark(leftTs, leftWatermark).alias("l")
    val r = right.withWatermark(rightTs, rightWatermark).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val timeCond =
      col(s"r.$rightTs") >= org.apache.spark.sql.functions.expr(
        s"l.$leftTs + INTERVAL $lowerSec SECONDS") &&
      col(s"r.$rightTs") <= org.apache.spark.sql.functions.expr(
        s"l.$leftTs + INTERVAL $upperSec SECONDS")
    val rightCols = right.columns.filterNot(keys.contains)
      .map(c => col(s"r.$c"))
    l.join(r, keyCond && timeCond, "inner")
      .select(col("l.*") +: rightCols: _*)
  }

  /** Idempotent per-batch keyed upsert into a JDBC table — the
    * `foreachBatch` half of [[upsertToJdbc]], usable standalone for batch
    * backfills. Update-else-insert per row (portable — no MERGE dialect
    * dependency), one connection per partition, committed per partition.
    *
    * CONTRACT: at most one row per key per batch (a streaming aggregation
    * in update mode satisfies this by construction; dedup upstream
    * otherwise) — two same-key rows split across partitions would race
    * their insert. Values are bound with `setObject` and must be non-null
    * (aggregates in update mode never emit null counts/sums; drivers like
    * Derby reject untyped null binds). Replaying a batch converges to the
    * same table state (UPDATE wins on the second pass), which is what
    * makes the streaming sink exactly-once-in-effect after failure
    * recovery. */
  // Table/column names are interpolated into SQL text (placeholders can't
  // bind identifiers), so restrict them to plain identifiers — anything
  // else (quotes, spaces, semicolons) is rejected before a statement is
  // built, closing the injection door if names ever come from user input.
  // Tables may be schema-qualified (each dot-separated part validated
  // separately); columns must be single identifiers.
  private def requireIdentifier(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"illegal SQL identifier: '$name' (expected [A-Za-z_][A-Za-z0-9_]*)")
    name
  }

  private def requireTableName(name: String): String = {
    val parts = name.split("\\.", -1)
    require(parts.nonEmpty && parts.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"illegal SQL table name: '$name' (expected ident or schema.ident)")
    name
  }

  def upsertBatch(batch: org.apache.spark.sql.DataFrame, url: String,
                  table: String, keyCol: String, valueCols: Seq[String],
                  driver: String): Unit = {
    requireTableName(table)
    (keyCol +: valueCols).foreach(requireIdentifier)
    val cols = keyCol +: valueCols
    batch.select(cols.map(col): _*).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.nonEmpty) {
          Class.forName(driver)
          val conn = java.sql.DriverManager.getConnection(url)
          var update: java.sql.PreparedStatement = null
          var insert: java.sql.PreparedStatement = null
          var committed = false
          try {
            conn.setAutoCommit(false)
            update = conn.prepareStatement(
              s"UPDATE $table SET ${valueCols.map(c => s"$c = ?").mkString(", ")} " +
                s"WHERE $keyCol = ?")
            insert = conn.prepareStatement(
              s"INSERT INTO $table (${cols.mkString(", ")}) " +
                s"VALUES (${cols.map(_ => "?").mkString(", ")})")
            // the projection above fixes the schema, so field positions
            // are constant — resolve them once, not per column per row
            var valueIdx: Array[Int] = null
            var keyIdx = -1
            var colIdx: Array[Int] = null
            rows.foreach { r =>
              if (valueIdx == null) {
                valueIdx = valueCols.map(r.fieldIndex).toArray
                keyIdx = r.fieldIndex(keyCol)
                colIdx = cols.map(r.fieldIndex).toArray
              }
              var i = 0
              while (i < valueIdx.length) {
                update.setObject(i + 1, r.get(valueIdx(i))); i += 1
              }
              update.setObject(valueIdx.length + 1, r.get(keyIdx))
              if (update.executeUpdate() == 0) {
                var j = 0
                while (j < colIdx.length) {
                  insert.setObject(j + 1, r.get(colIdx(j))); j += 1
                }
                insert.executeUpdate()
              }
            }
            conn.commit()
            committed = true
          } finally {
            // ROLL BACK uncommitted work before close: Derby refuses to
            // close a connection with an active transaction, which would
            // replace the real failure with a close error (and other
            // drivers may COMMIT the half-written partition on close)
            if (!committed) {
              try conn.rollback()
              catch { case _: java.sql.SQLException => () }
            }
            if (update != null) update.close()
            if (insert != null) insert.close()
            conn.close()
          }
        }
    }
  }

  /** Streaming upsert sink: every micro-batch's changed rows MERGE into a
    * JDBC serving table via [[upsertBatch]] — the standard
    * `foreachBatch` + keyed-idempotence pattern that gives a streaming
    * aggregation an exactly-once-in-effect external sink: checkpoint
    * recovery may REPLAY a batch, and the keyed upsert makes the replay a
    * no-op rather than a duplicate. Pair with update-mode aggregations
    * (one row per key per batch by construction). */
  def upsertToJdbc(df: DataFrame, url: String, table: String,
                   keyCol: String, valueCols: Seq[String],
                   checkpointDir: String,
                   driver: String = "org.apache.derby.jdbc.EmbeddedDriver")
                  : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        upsertBatch(batch, url, table, keyCol, valueCols, driver)
      }
      .start()

  /** Streaming ingest into a stored BM25 inverted-index layout — the
    * live half of [[graft.serve.SearchService.appendDelta]], closing the
    * keyword tier's batch-build → stream-ingest → serve loop: each
    * micro-batch appends its postings as new files into only the term
    * buckets it touches and adds its (n_docs, dl_sum) as a one-row delta
    * under `root/stats` (readers aggregate —
    * [[graft.serve.SearchService.readStats]]), so a
    * [[graft.serve.SearchService]] over `root` retrieves a document
    * seconds after it streams in — no rebuild, ever. Bootstrap the
    * layout first with `SearchService.buildIndex` (an empty frame is
    * fine).
    *
    * Delivery: EXACTLY ONCE IN EFFECT. Every file the batch adds is
    * batch-tagged and committed through [[BatchCommit.runOnce]] — a
    * batch replayed after a crash between the postings append and the
    * checkpoint commit (the classic double-count window) scrubs its own
    * partial files and redoes, and a batch replayed after its ledger
    * marker landed is skipped, so the served index always equals
    * single delivery (StreamOpsSpec pins kill-and-replay ≡ batch
    * rebuild, plus the post-ingest serving path). */
  def bm25IngestStream(docs: DataFrame, textCol: String, idCol: String,
                       root: String, checkpointDir: String)
                      : org.apache.spark.sql.streaming.StreamingQuery = {
    BatchCommit.assertStreamIdentity(docs.sparkSession, root, checkpointDir)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        bm25IngestBatch(batch.toDF(), textCol, idCol, root, batchId)
        ()
      }
      .start()
  }

  /** One micro-batch of [[bm25IngestStream]] — public so the replay spec
    * (and any custom sink) can drive the idempotent commit directly.
    * Returns false when the batch was empty or already committed. */
  def bm25IngestBatch(batch: DataFrame, textCol: String, idCol: String,
                      root: String, batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    BatchCommit.runOnce(spark, root, batchId) { staging =>
      graft.io.Sinks.onePerPartitionValue(
          graft.text.TextOps.bm25Postings(batch, textCol, idCol)
            .withColumn("bucket",
              graft.text.TextOps.bm25Bucket(col("term"))), Seq("bucket"))
        .write.partitionBy("bucket").parquet(s"$staging/postings")
      graft.text.TextOps.bm25CorpusStats(batch, textCol)
        .coalesce(1).write.parquet(s"$staging/stats")
      Seq(s"$staging/postings" -> s"$root/postings",
        s"$staging/stats" -> s"$root/stats")
    }
  }

  /** Streaming ingest into a stored DSIR weight layout — the
    * trained-selection twin of [[bm25IngestStream]], closing the DSIR
    * tier's batch-train → stream-ingest → fold loop: bucket counts are
    * ADDITIVE, so each micro-batch appends only its (b, cr) raw-marginal
    * delta (batch-sized feature extraction, ≤ `buckets` rows out —
    * [[graft.text.TextOps.dsirBatchMarginal]]) under `root/raw`, and the
    * nightly [[graft.serve.DsirService.recomputeWeights]] re-derives the
    * serving weight table from the SUMMED marginals in O(buckets) — no
    * corpus rescan, ever. Bootstrap the layout first with
    * [[graft.serve.DsirService.buildLayout]] (an empty raw frame is
    * fine); the bucket count is pinned ONCE at stream start from the
    * layout itself, so a caller cannot mis-bucket a delta.
    *
    * Delivery: EXACTLY ONCE IN EFFECT via [[BatchCommit.runOnce]] — a
    * replayed batch scrubs its own partial delta files and redoes (or is
    * skipped once its ledger marker exists), so the folded marginal
    * always equals single delivery (StreamOpsSpec pins kill-and-replay ≡
    * full retrain on the same corpus). */
  def dsirIngestStream(docs: DataFrame, textCol: String, idCol: String,
                       root: String, checkpointDir: String)
                      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    val buckets = graft.serve.DsirService.bucketsOf(spark, root)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        dsirIngestBatch(batch.toDF(), textCol, idCol, root, batchId, buckets)
        ()
      }
      .start()
  }

  /** One micro-batch of [[dsirIngestStream]] — public for the replay
    * spec. Returns false when the batch was empty or already
    * committed. */
  def dsirIngestBatch(batch: DataFrame, textCol: String, idCol: String,
                      root: String, batchId: Long, buckets: Int): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      graft.text.TextOps.dsirBatchMarginal(batch, textCol, idCol, buckets)
        .coalesce(1).write.parquet(s"$staging/raw")
      Seq(s"$staging/raw" -> s"$root/raw")
    }
  }

  /** Streaming ingest into a stored ROLLING-QUANTILE sketch layout
    * ([[graft.serve.RollingQuantileService]]) — the TENTH streamed
    * index family: each micro-batch reduces to one KLL sketch row per
    * (hour, type) it touches (batch-sized work, constant-size rows
    * out) and APPENDS as a delta file-set under `root/hourly`; readers
    * fold deltas by (h, type) with `kll_merge_agg` (mergeability is
    * the family's entire design), and the nightly
    * [[graft.serve.Maintenance.nightlyRollingQuantiles]] materializes
    * the fold. The sketch resolution k is pinned ONCE at stream start
    * from the layout's own meta — a caller cannot mis-k a delta.
    *
    * Delivery: EXACTLY ONCE IN EFFECT via [[BatchCommit.runOnce]] — a
    * replayed batch scrubs its own partial delta files and redoes (or
    * is skipped once its ledger marker exists), so the folded counts
    * always equal single delivery; StreamOpsSpec pins kill-and-replay
    * plus streamed-folded ≡ batch-built within the KLL rank-error
    * envelope (sketch blobs carry engine-local randomness, so the
    * exactness pin is on n and rank error, not bytes). */
  def rollingQuantileIngestStream(events: DataFrame, typeCol: String,
                                  tsCol: String, valueCol: String,
                                  root: String, checkpointDir: String)
                                 : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    val k = graft.serve.RollingQuantileService.kOf(spark, root)
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        rollingQuantileIngestBatch(batch.toDF(), typeCol, tsCol, valueCol,
          root, batchId, k)
        ()
      }
      .start()
  }

  /** One micro-batch of [[rollingQuantileIngestStream]] — public for
    * the replay spec. Returns false when the batch was empty or
    * already committed. The caller-supplied `k` (the stream pins it
    * once at start) is RE-VALIDATED against the layout's meta before
    * anything is written: a mis-k'd delta would merge cleanly and
    * silently degrade every later fold, which is exactly the failure
    * `root/meta` exists to prevent — one tiny meta read per
    * micro-batch buys the loud error. */
  def rollingQuantileIngestBatch(batch: DataFrame, typeCol: String,
                                 tsCol: String, valueCol: String,
                                 root: String, batchId: Long,
                                 k: Int): Boolean = {
    if (batch.isEmpty) return false
    // a pre-partitioning layout must migrate BEFORE the first delta
    // lands, or the partitioned delta dirs would sit next to the
    // legacy flat files and partition discovery would reject the mix
    // (one exists() per batch once migrated)
    graft.serve.RollingQuantileService
      .migrateLegacyLayout(batch.sparkSession, root)
    val pinned = graft.serve.RollingQuantileService
      .kOf(batch.sparkSession, root)
    require(k == pinned,
      s"rolling-quantile delta sketched at k = $k but the layout at " +
        s"$root is pinned to k = $pinned — mixed-resolution sketches " +
        "merge silently and degrade quantile accuracy; use the " +
        "layout's k")
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      // deltas carry the layout's d = to_date(h) partitioning —
      // BatchCommit.moveIn preserves partition subpaths, so streamed
      // files land inside the same date directories the base fileset
      // uses and every reader's partition pruning covers them too
      graft.serve.RollingQuantileService
        .hourlySketches(batch, typeCol, tsCol, valueCol, k)
        .withColumn("d", to_date(col("h")))
        .coalesce(1).write.partitionBy("d").parquet(s"$staging/hourly")
      Seq(s"$staging/hourly" -> s"$root/hourly")
    }
  }

  /** Streaming ingest into a stored BIGRAM-LM model layout
    * ([[graft.serve.LmService]]) — the ELEVENTH streamed index family:
    * each micro-batch reduces to its additive bigram and word count
    * deltas ([[graft.text.TextOps.lmBatchCounts]] — batch-sized work,
    * model-sized rows out) and APPENDS them under `root/bigrams` /
    * `root/words`; readers fold by key with integer sums, so
    * stream-folded ≡ full retrain BIT-IDENTICAL (counts are additive —
    * the DSIR-marginal discipline, StreamOpsSpec-pinned), and the
    * nightly [[graft.serve.Maintenance.nightlyLmFold]] materializes
    * the fold.
    *
    * Delivery: EXACTLY ONCE IN EFFECT via [[BatchCommit.runOnce]] — a
    * replayed batch scrubs its own partial delta files and redoes (or
    * is skipped once its ledger marker exists), so the folded model
    * always equals single delivery of every document. */
  def lmIngestStream(docs: DataFrame, textCol: String, idCol: String,
                     root: String, checkpointDir: String)
                    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        lmIngestBatch(batch.toDF(), textCol, idCol, root, batchId)
        ()
      }
      .start()
  }

  /** One micro-batch of [[lmIngestStream]] — public for the replay
    * spec. Returns false when the batch was empty or already
    * committed. */
  def lmIngestBatch(batch: DataFrame, textCol: String, idCol: String,
                    root: String, batchId: Long): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      val (bg, w) = graft.text.TextOps.lmBatchCounts(batch, textCol, idCol)
      bg.coalesce(1).write.parquet(s"$staging/bigrams")
      w.coalesce(1).write.parquet(s"$staging/words")
      Seq(s"$staging/bigrams" -> s"$root/bigrams",
        s"$staging/words" -> s"$root/words")
    }
  }

  /** Materialize a small stored frame (centroids, codebooks) as a
    * driver-side literal DataFrame — the PIN that makes "the quantizer is
    * opened once at stream start" literally true: `spark.read.parquet` is
    * lazy and would re-read the files on every micro-batch, so an
    * overwrite of the stored quantizer mid-stream would silently change
    * assignments (or fail the stream on missing files) instead of staying
    * frozen. Collect is bounded by the quantizer size (nlist rows /
    * m·codebookSize rows — model artifacts, not data). */
  private def pinned(spark: org.apache.spark.sql.SparkSession,
                     path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    spark.createDataFrame(
      java.util.Arrays.asList(raw.collect(): _*), raw.schema)
  }

  /** Streaming ingest into a stored IVF layout — the vector twin of
    * [[bm25IngestStream]], completing the serving tier's live-ingest
    * story: the stored centroids are pinned ONCE at stream start (the
    * frozen quantizer — [[graft.sim.Ivf.appendToIndex]]'s model,
    * collected to a driver-side literal so a mid-stream overwrite of
    * `root/centroids` cannot shift assignments), and each micro-batch's
    * vectors are assigned against them and appended as new files into
    * only the cells they land in, so an [[graft.serve.AnnService]] over
    * `root` retrieves a vector seconds after it streams in. Bootstrap
    * the layout first (write `centroids` + an empty `assigned`).
    *
    * Delivery: EXACTLY ONCE IN EFFECT via [[BatchCommit.runOnce]] — a
    * replayed batch scrubs its own partial files and redoes (or is
    * skipped once its ledger marker exists), so the served index always
    * equals single delivery. Stream ≡ batch-assignment and
    * kill-and-replay are StreamOpsSpec-pinned. */
  def ivfIngestStream(vectors: DataFrame, root: String, checkpointDir: String,
                      idCol: String = "vec_id", vecCol: String = "embedding")
                     : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    val centroids = pinned(spark, s"$root/centroids")
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        ivfIngestBatch(batch.toDF(), centroids, root, batchId, idCol, vecCol)
        ()
      }
      .start()
  }

  /** One micro-batch of [[ivfIngestStream]] — public for the replay spec.
    * Returns false when the batch was empty or already committed. */
  def ivfIngestBatch(batch: DataFrame, centroids: DataFrame, root: String,
                     batchId: Long, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      graft.io.Sinks.onePerPartitionValue(
          graft.sim.Ivf.assignPortable(batch, centroids, idCol, vecCol),
          Seq("cell"))
        .write.partitionBy("cell").parquet(s"$staging/assigned")
      Seq(s"$staging/assigned" -> s"$root/assigned")
    }
  }

  /** Streaming ingest into a stored RESIDUAL IVF-PQ layout — the
    * compressed-serving twin of [[ivfIngestStream]], closing live ingest
    * over the actual 100 TB serving format: BOTH frozen quantizers
    * (coarse centroids + PQ codebooks) are pinned once at stream start
    * (driver-side literal frames — a mid-stream overwrite of the stored
    * quantizers cannot shift encodings), and each micro-batch is
    * cell-assigned, residual-encoded against the stored codebooks
    * ([[graft.sim.IvfPq.appendToResidualIndex]]'s kernel), and appended
    * as thin code rows into only the cells it lands in — an
    * [[graft.serve.AnnPqService]] over `root` serves the vector seconds
    * later, raw floats never stored. Bootstrap with a written
    * `centroids`/`codebooks`/`codes` layout. Same exactly-once-in-effect
    * commit as the other ingest sinks ([[BatchCommit.runOnce]]). */
  def ivfPqIngestStream(vectors: DataFrame, root: String,
                        checkpointDir: String,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding")
                       : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    val centroids = pinned(spark, s"$root/centroids")
    val codebooks = pinned(spark, s"$root/codebooks")
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        ivfPqIngestBatch(batch.toDF(), centroids, codebooks, root, batchId,
          idCol, vecCol)
        ()
      }
      .start()
  }

  /** One micro-batch of [[ivfPqIngestStream]] — public for the replay
    * spec. Returns false when the batch was empty or already committed. */
  def ivfPqIngestBatch(batch: DataFrame, centroids: DataFrame,
                       codebooks: DataFrame, root: String, batchId: Long,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    BatchCommit.runOnce(spark, root, batchId) { staging =>
      val idx = graft.sim.IvfPqIndex(centroids, codebooks,
        spark.emptyDataFrame)
      graft.io.Sinks.onePerPartitionValue(
          graft.sim.IvfPq.encodeDeltaResidual(idx, batch, idCol, vecCol),
          Seq("cell"))
        .write.partitionBy("cell").parquet(s"$staging/codes")
      Seq(s"$staging/codes" -> s"$root/codes")
    }
  }

  /** Streaming ingest into a stored RP (JL random-projection) layout —
    * completing live ingest across ALL FOUR stored index families (BM25,
    * flat IVF, residual IVF-PQ, RP): each micro-batch's vectors are
    * reduced with the SEEDED projection
    * ([[graft.sim.Similarity.rpReduce]] — the quantizer here is
    * the (dimOut, seed) pair itself, so there is nothing stored to pin;
    * callers must pass the layout's build parameters, the
    * [[graft.serve.AnnRpService]] contract) and appended as (id, vec, r)
    * rows, so the RP backend serves a vector seconds after it streams
    * in. Same exactly-once-in-effect commit as the other ingest sinks
    * ([[BatchCommit.runOnce]]). */
  def rpIngestStream(vectors: DataFrame, root: String, checkpointDir: String,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     dimOut: Int = 8, seed: Int = 42)
                    : org.apache.spark.sql.streaming.StreamingQuery = {
    BatchCommit.assertStreamIdentity(vectors.sparkSession, root, checkpointDir)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        rpIngestBatch(batch.toDF(), root, batchId, idCol, vecCol, dimOut, seed)
        ()
      }
      .start()
  }

  /** One micro-batch of [[rpIngestStream]] — public for the replay spec.
    * Returns false when the batch was empty or already committed. */
  def rpIngestBatch(batch: DataFrame, root: String, batchId: Long,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    dimOut: Int = 8, seed: Int = 42): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      graft.sim.Similarity.rpReduce(batch, idCol, vecCol, dimOut, seed)
        .write.parquet(s"$staging/reduced")
      Seq(s"$staging/reduced" -> s"$root/reduced")
    }
  }

  /** Streaming ingest into a stored SQ8 layout
    * ([[graft.serve.AnnSqService]] / [[graft.sim.Sq]]): per-vector
    * quantization has NO frozen artifact to pin — each micro-batch is a
    * map-only quantize appended as batch-tagged files, and streamed ≡
    * batch-rebuilt holds EXACTLY (not just under frozen artifacts), the
    * strongest ingest semantics of the vector families. Same
    * exactly-once-in-effect commit protocol as every other sink. */
  def sqIngestStream(vectors: DataFrame, root: String, checkpointDir: String,
                     idCol: String = "vec_id", vecCol: String = "embedding")
                    : org.apache.spark.sql.streaming.StreamingQuery = {
    BatchCommit.assertStreamIdentity(vectors.sparkSession, root, checkpointDir)
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        sqIngestBatch(batch.toDF(), root, batchId, idCol, vecCol)
        ()
      }
      .start()
  }

  /** One micro-batch of [[sqIngestStream]] — public for the replay spec.
    * Returns false when the batch was empty or already committed. */
  def sqIngestBatch(batch: DataFrame, root: String, batchId: Long,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      graft.sim.Sq.quantize(batch, idCol, vecCol)
        .write.parquet(s"$staging/quantized")
      Seq(s"$staging/quantized" -> s"$root/quantized")
    }
  }

  /** Streaming EDGE ingest into a stored graph layout
    * ([[graft.serve.GraphRankService]] `root/edges`): each micro-batch's
    * (src, dst) pairs append as batch-tagged thin files — nothing is
    * trained, nothing is frozen, and the graph operators deduplicate
    * edges themselves, so streamed ≡ batch-collected holds EXACTLY for
    * every downstream computation. Ranks are a GLOBAL fixed point of
    * the edge set (no per-edge delta exists), so serving does NOT
    * update live: the nightly composition
    * ([[graft.serve.Maintenance.nightlyGraph]] over
    * `spark.read.parquet(root + "/edges")`) recomputes and swaps the
    * stored ranks — stream feeds the store, the nightly feeds serving.
    * Same exactly-once-in-effect commit protocol as every other ingest
    * sink. */
  def edgeIngestStream(edges: DataFrame, root: String, checkpointDir: String,
                       srcCol: String = "src", dstCol: String = "dst")
                      : org.apache.spark.sql.streaming.StreamingQuery = {
    BatchCommit.assertStreamIdentity(edges.sparkSession, root, checkpointDir)
    edges.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        edgeIngestBatch(batch.toDF(), root, batchId, srcCol, dstCol)
        ()
      }
      .start()
  }

  /** One micro-batch of [[edgeIngestStream]] — public for the replay
    * spec. Returns false when the batch was empty or already
    * committed. */
  def edgeIngestBatch(batch: DataFrame, root: String, batchId: Long,
                      srcCol: String = "src",
                      dstCol: String = "dst"): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      batch.select(
          org.apache.spark.sql.functions.col(srcCol)
            .cast(org.apache.spark.sql.types.LongType).as("src"),
          org.apache.spark.sql.functions.col(dstCol)
            .cast(org.apache.spark.sql.types.LongType).as("dst"))
        .write.parquet(s"$staging/edges")
      Seq(s"$staging/edges" -> s"$root/edges")
    }
  }

  /** Streaming ingest into a stored FLAT-PQ layout — the last stored
    * index family without live ingest (BM25, flat IVF, residual IVF-PQ
    * and RP all have it): the stored codebooks are pinned once at
    * stream start (driver-side literal — the frozen quantizer), each
    * micro-batch is encoded against them
    * ([[graft.sim.Pq.encodeWithCodebooks]] — the
    * [[graft.sim.Pq.appendToIndex]] kernel) and appended as thin code
    * rows, so an [[graft.serve.AnnFlatPqService]] over `root` serves
    * the vector seconds later, raw floats never stored. Bootstrap with
    * a written `codebooks`/`codes` layout. Same exactly-once-in-effect
    * commit as every other ingest sink ([[BatchCommit.runOnce]]);
    * distortion drift this frozen path accumulates is
    * [[graft.sim.Pq.distortionStats]]'s to surface. */
  def pqIngestStream(vectors: DataFrame, root: String, checkpointDir: String,
                     idCol: String = "vec_id", vecCol: String = "embedding")
                    : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vectors.sparkSession
    BatchCommit.assertStreamIdentity(spark, root, checkpointDir)
    val codebooks = pinned(spark, s"$root/codebooks")
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        pqIngestBatch(batch.toDF(), codebooks, root, batchId, idCol, vecCol)
        ()
      }
      .start()
  }

  /** Replay-safe streaming DOCUMENT ingest into a stored near-dup
    * signature index ([[graft.serve.NearDupService]] layout) — the sixth
    * streamed index family: each micro-batch's signatures and banded
    * bucket rows land as batch-tagged files inside only the touched
    * `idgrp`/`bgrp` partitions through the [[BatchCommit]] protocol, so
    * a document is probe-visible seconds after it streams in and a
    * replayed batch can never double its rows. Banding parameters are
    * PINNED from the stored meta at stream start (three ints — the
    * quantizer-pinning discipline of the vector sinks, trivially cheap
    * here). */
  def nearDupIngestStream(docs: DataFrame, textCol: String, idCol: String,
                          root: String, checkpointDir: String)
                         : org.apache.spark.sql.streaming.StreamingQuery = {
    BatchCommit.assertStreamIdentity(docs.sparkSession, root, checkpointDir)
    val meta = graft.serve.NearDupService.readMeta(docs.sparkSession, root)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        nearDupIngestBatch(batch.toDF(), textCol, idCol, root, batchId,
          Some(meta))
        ()
      }
      .start()
  }

  /** One micro-batch of [[nearDupIngestStream]] — public for the replay
    * spec. Returns false when the batch was empty or already committed.
    * Layout parameters default to the stored meta when not supplied. */
  def nearDupIngestBatch(batch: DataFrame, textCol: String, idCol: String,
                         root: String, batchId: Long,
                         meta: Option[graft.serve.NearDupService.NearDupMeta]
                           = None): Boolean = {
    if (batch.isEmpty) return false
    val spark = batch.sparkSession
    val m = meta.getOrElse(graft.serve.NearDupService.readMeta(spark, root))
    BatchCommit.runOnce(spark, root, batchId) { staging =>
      graft.serve.NearDupService.writeStagedBatch(batch, textCol, idCol,
        staging, root, m)
    }
  }

  /** One micro-batch of [[pqIngestStream]] — public for the replay spec.
    * Returns false when the batch was empty or already committed. */
  def pqIngestBatch(batch: DataFrame, codebooks: DataFrame, root: String,
                    batchId: Long, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Boolean = {
    if (batch.isEmpty) return false
    BatchCommit.runOnce(batch.sparkSession, root, batchId) { staging =>
      graft.sim.Pq.encodeWithCodebooks(batch, codebooks, idCol, vecCol)
        .write.parquet(s"$staging/codes")
      Seq(s"$staging/codes" -> s"$root/codes")
    }
  }

  /** Streaming incremental dedup against a STATIC reference corpus — the
    * live-ingest form of [[graft.dedup.Dedup.incrementalDedup]]: each
    * micro-batch drops documents whose fingerprint already exists in the
    * reference (stream-static LEFT ANTI join — stateless, re-planned per
    * micro-batch), then suppresses repeats WITHIN the stream via the
    * watermark-bounded dedup. Two concerns, one stateful operator.
    *
    * Scale shape: the reference side reduces to its distinct fingerprint
    * frame once (8-byte keys; Spark broadcasts or shuffles per batch —
    * callers with a large reference should hand in a pre-computed,
    * persisted fingerprint frame rather than raw text). Stream state is
    * one 64-bit key per unseen-in-horizon doc, exactly like
    * [[dedupWithinWatermark]]. */
  def incrementalDedupStream(docs: DataFrame, reference: DataFrame,
                             textCol: String, tsCol: String = "ts",
                             watermark: String = "1 hour"): DataFrame = {
    val fp = graft.text.TextOps.fingerprint(col(textCol))
    val refFps = reference.select(fp.as("__fp")).distinct()
    docs.withColumn("__fp", fp)
      .join(refFps, Seq("__fp"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Streaming incremental NEAR-dup matching against a static reference
    * signature index — the live-ingest form of
    * [[graft.dedup.Dedup.incrementalNearDups]]: each arriving document is
    * signed per-row ([[graft.dedup.Dedup.minHashSigArray]], map-only),
    * its band keys exploded, and matched against the banded index via a
    * STATELESS stream-static equi-join; pairs at signature agreement ≥
    * `threshold` are emitted as (stream columns…, ref_id, est_jaccard).
    *
    * Statelessness is the design point: no watermark-held state, no
    * stream-side aggregation — every operator re-plans per micro-batch,
    * so throughput scales with batch size, not stream history. The cost
    * of that: a pair matching in k bands emits k IDENTICAL rows (bounded
    * by `bands`). Pair with an idempotent keyed sink ([[upsertToJdbc]] on
    * (id, ref_id)) or a downstream `dropDuplicatesWithinWatermark`,
    * exactly the replay-idempotence story the upsert sink already
    * implements. Batch frames work unchanged (the spec proves stream ≡
    * batch ≡ [[graft.dedup.Dedup.incrementalNearDups]] after dedup). */
  def incrementalNearDupStream(docs: DataFrame, refSignatures: DataFrame,
                               textCol: String, idCol: String,
                               threshold: Double = 0.7, bands: Int = 16,
                               rowsPerBand: Int = 4,
                               shingleK: Int = 5,
                               maxBucketOccupancy: Long = 100000L): DataFrame = {
    require(threshold > 0, "incrementalNearDupStream requires a positive threshold")
    // Internal scratch + output columns must not collide with the stream's
    // own schema: a `docs` that already carries e.g. ref_id would otherwise
    // fail with an ambiguous reference (or silently select the wrong one).
    val reserved = Set("__sig", "__ref_sig", "__band", "__bucket", "bb",
      "ref_id", "est_jaccard", "__norm")
    val clashes = docs.columns.filter(reserved)
    require(clashes.isEmpty,
      s"incrementalNearDupStream reserves columns ${reserved.mkString(", ")}; " +
        s"input already has ${clashes.mkString(", ")} — rename them first")
    val numHashes = bands * rowsPerBand
    // static side — safe to probe once at plan time; a mismatched index
    // would otherwise zip short and silently emit nothing
    Dedup.requireIndexWidth(refSignatures, numHashes, "incrementalNearDupStream")
    def bandStructs(sig: Column): Column =
      Dedup.bandBuckets(sig, bands, rowsPerBand)
    val streamSide = docs
      // __norm materialized; hash array rides the aggregate-input
      // position — see nearDupSuppressWithinWatermark
      .withColumn("__norm",
        lower(regexp_replace(col(textCol), "\\s+", " ")))
      .withColumn("__sig",
        Dedup.minHashSigArrayFromHashes(
          transform(
            graft.text.TextOps.charShinglesFromNorm(col("__norm"), shingleK),
            s => xxhash64(s)),
          numHashes))
      .withColumn("bb", bandStructs(col("__sig")))
      .select(docs.columns.map(col) :+ col("__sig") :+
        col("bb.band").as("__band") :+ col("bb.bucket").as("__bucket"): _*)
    val refSide = refSignatures
      .select(col("id").as("ref_id"), col("sig").as("__ref_sig"))
      .withColumn("bb", bandStructs(col("__ref_sig")))
      .select(col("ref_id"), col("__ref_sig"),
        col("bb.band").as("__band"), col("bb.bucket").as("__bucket"))
    // the reference is STATIC, so the degenerate-index gate the batch twin
    // applies runs here once at plan time too: without it, every doc that
    // hits a hot bucket (an index over thousands of identical texts) joins
    // against all its occupants and each micro-batch degenerates toward
    // O(|batch| x |ref|) — surfacing as unbounded trigger latency instead
    // of this actionable error
    graft.util.Guards.checkBucketOccupancy(
      refSide.select(col("__band").as("band"), col("__bucket").as("bucket")),
      Seq("band", "bucket"), maxBucketOccupancy,
      "incrementalNearDupStream(reference index)",
      "exact-dedup the reference corpus before building its signature index")
    val agree = size(filter(zip_with(col("__sig"), col("__ref_sig"),
      (x, y) => x === y), e => e))
    streamSide.join(refSide, Seq("__band", "__bucket"))
      .withColumn("est_jaccard",
        round(agree.cast(org.apache.spark.sql.types.DoubleType) / numHashes, 6))
      .filter(col("est_jaccard") >= threshold &&
        col(idCol) =!= col("ref_id"))
      .select(docs.columns.map(col) :+ col("ref_id") :+ col("est_jaccard"): _*)
  }

  /** Per-window approximate top-k heavy hitters with BOUNDED state —
    * Space-Saving (Metwally et al. 2005, "Efficient Computation of
    * Frequent and Top-k Elements in Data Streams", public) inside
    * `flatMapGroupsWithState` keyed by the event-time window.
    *
    * Why not two chained aggregations (count per (window, key) → top-k
    * per window): exact per-key counts hold state for EVERY distinct key
    * in the horizon — at 100 TB/day of documents that is the key
    * universe, unbounded. Space-Saving caps state at `capacity` counters
    * per window with the classic guarantees: every key with true count
    * > N/capacity is in the summary, and for each emitted key
    * `est_count − max_overcount ≤ true ≤ est_count`. `capacity ≥
    * distinct keys` degrades to exact counts (spec-pinned against the
    * batch groupBy).
    *
    * Emission is APPEND-mode and FINAL: a window's top-k is emitted once,
    * when the event-time watermark passes the window end
    * (`GroupStateTimeout.EventTimeTimeout`), and its state is removed —
    * so downstream sees one finalized leaderboard per window, never a
    * retraction. Late rows inside the watermark merge into the live
    * summary; rows later than the watermark are dropped by the watermark
    * operator itself (accounted in `numRowsDroppedByWatermark`).
    *
    * In the approximate regime the summary depends on arrival order
    * (inherent to every one-pass bounded-memory summary); the guarantees
    * above hold for ANY order. Eviction ties break on (count, key) so
    * replays of identical batch sequences are deterministic.
    *
    * The input must carry a watermark-able event-time column `tsCol`;
    * `keyCol` is rendered to string (NULL keys dropped — no identity). */
  def windowedHeavyHitters(events: DataFrame, keyCol: String, tsCol: String,
                           windowDuration: String, watermark: String,
                           k: Int = 10, capacity: Int = 1000): Dataset[HeavyHitter] = {
    require(k > 0 && capacity >= k,
      s"need k > 0 and capacity >= k, got k=$k capacity=$capacity")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark(tsCol, watermark)
      // the raw (watermark-tagged) event-time attribute must survive into
      // the stateful operator's input — extracting window fields through
      // unix_millis would strip the tag and fail the event-time-timeout
      // analysis check
      .select(window(col(tsCol), windowDuration).as("__w"),
        col(keyCol).cast("string").as("__k"), col(tsCol).as("__ts"))
      .filter(col("__k").isNotNull)
      .select(unix_millis(col("__w.start")).as("__ws"),
        unix_millis(col("__w.end")).as("__we"), col("__k"), col("__ts"))
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (w: (Long, Long), rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
         state: GroupState[Map[String, (Long, Long)]]) =>
          if (state.hasTimedOut) {
            val top = state.get.toSeq
              .sortBy { case (key, (c, _)) => (-c, key) }.take(k)
            state.remove()
            top.iterator.zipWithIndex.map { case ((key, (c, e)), i) =>
              HeavyHitter(new java.sql.Timestamp(w._1),
                new java.sql.Timestamp(w._2), key, c, e, i + 1)
            }
          } else {
            val m = scala.collection.mutable.Map.empty[String, (Long, Long)]
            state.getOption.foreach(m ++= _)
            rows.foreach { case (_, _, key, _) =>
              m.get(key) match {
                case Some((c, e)) => m(key) = (c + 1, e)
                case None if m.size < capacity => m(key) = (1L, 0L)
                case None =>
                  // evict the minimum counter; (count, key) tie-break for
                  // replay determinism. capacity is a few thousand at
                  // most, so the per-batch linear scan is noise next to
                  // the shuffle that delivered the rows.
                  val (mk, (mc, _)) = m.minBy { case (key0, (c0, _)) => (c0, key0) }
                  m.remove(mk)
                  m(key) = (mc + 1, mc)
              }
            }
            state.update(m.toMap)
            // never set a timeout at/behind the current watermark — a
            // straggler window whose end the watermark already passed
            // times out at the next possible instant instead of throwing
            state.setTimeoutTimestamp(
              math.max(w._2, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }
}

/** One finalized leaderboard row per (window, rank) from
  * [[StreamOps.windowedHeavyHitters]]: `est_count` overestimates the true
  * count by at most `max_overcount` (0 when the key never inherited an
  * evicted counter — the count is then exact). */
case class HeavyHitter(window_start: java.sql.Timestamp,
                       window_end: java.sql.Timestamp,
                       key: String, est_count: Long, max_overcount: Long,
                       rank: Int)
