package graft.ingest

import graft.table.{Snapshot, TokenTable}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One raw message = one Kafka record (reference
  * `/root/reference/src/model/mod.rs:7-11`,
  * `src/kafka/mod.rs:94-111`): `(topic, partition, offset)` metadata, an
  * optional UTF-8 key, a JSON-object payload.
  */
case class RawMessage(topic: String, partition: Int, offset: Long,
    key: Option[String], value: String)

/** A dead-lettered record: the reference sends `(key, error string)` to
  * a DLQ topic and — notably — does NOT preserve the original payload
  * (`src/kafka/mod.rs:288-300`). We keep the payload too (strictly more
  * information; the S2 quarantine table replaces the DLQ topic).
  */
case class DeadLetter(topic: String, partition: Int, offset: Long,
    key: Option[String], value: String, error: String)

/** Batch ingest pipeline — the reference's per-message hot path
  * (`src/kafka/mod.rs:256-302`) re-expressed as one Catalyst plan:
  * parse/project (P1/P3) -> quarantine split (S2) -> first-wins dedup
  * (D1) -> offset sort (D2) -> atomic append (S3/X1), with per-partition
  * offset watermarks making replay idempotent (exactly-once table
  * effect, the X1 invariant).
  */
object Ingest {

  /** Columns of the parsed payload in schema order. */
  private val payloadSchema = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  /** Parse + validate: [[split]] of [[classify]]. Valid rows project to
    * the token schema; dead letters keep their payload and error.
    */
  def parse(msgs: Dataset[RawMessage]): (DataFrame, Dataset[DeadLetter]) =
    split(classify(msgs))

  /** Classify each message in one projection, keeping every input
    * column and adding `__parsed` (the payload struct), `__error` (the
    * dead-letter reason, null otherwise) and `__empty`. Reference
    * semantics (P1, `src/utils/mod.rs:122-153`):
    *  - non-object / unparseable JSON -> dead letter,
    *  - empty object `{}` -> `__empty`: row silently dropped (NOT an error),
    *  - missing schema field -> dead letter (`MissingField`),
    *  - type mismatch -> dead letter.
    * Null field values are allowed through parse; rows with null
    * required fields are quarantined at projection time.
    */
  def classify(msgs: Dataset[_]): DataFrame = {
    val spark = msgs.sparkSession
    import spark.implicits._
    // json_object_keys is null for non-objects — that plus a FAILFAST-free
    // from_json gives us the reference's error taxonomy without a UDF.
    val keyed = msgs
      .withColumn("__keys", json_object_keys($"value"))
      .withColumn("__parsed", from_json($"value", payloadSchema))
    val nonObject = $"__keys".isNull
    val emptyObject = $"__keys".isNotNull && size($"__keys") === 0
    val missing = payloadSchema.fields.map(f =>
      when(!array_contains($"__keys", f.name), lit(f.name))).toSeq
    val missingList = filter(array(missing: _*), c => c.isNotNull)
    // A required field that parsed to null (explicit JSON null OR a type
    // mismatch that PERMISSIVE from_json nulled out) must be quarantined:
    // the table schema declares all four fields non-nullable, and a null
    // n_tok would poison the footer stats downstream. Same for null
    // ELEMENTS inside tokens — from_json's ArrayType admits them, but
    // the table schema declares containsNull=false, so letting
    // [1,null,2] through would append data that violates the declared
    // schema (null-poisoned aggregates / reader errors).
    val nullReq = payloadSchema.fields.map(f =>
      when($"__parsed".getField(f.name).isNull, lit(f.name))).toSeq :+
      when($"__parsed".getField("tokens").isNotNull &&
        exists($"__parsed".getField("tokens"), e => e.isNull), lit("tokens"))
    val nullList = filter(array(nullReq: _*), c => c.isNotNull)

    keyed
      .withColumn("__error",
        when(nonObject, lit("ParseError: payload is not a JSON object"))
          .when(emptyObject, lit(null.asInstanceOf[String])) // dropped, not an error
          .when(size(missingList) > 0,
            concat(lit("MissingField: "), array_join(missingList, ", ")))
          .when($"__parsed".isNull, lit("TypeMismatch: payload does not match schema"))
          .when(size(nullList) > 0,
            concat(lit("TypeMismatch: null or mistyped required field: "),
              array_join(nullList, ", "))))
      .withColumn("__empty", emptyObject)
      .drop("__keys")
  }

  /** Split a [[classify]]d frame into valid rows (token schema plus
    * Kafka metadata) and dead letters; `__empty` rows go to neither.
    */
  def split(classified: DataFrame): (DataFrame, Dataset[DeadLetter]) = {
    val spark = classified.sparkSession
    import spark.implicits._
    val valid = classified
      .filter($"__error".isNull && !$"__empty")
      .select($"topic", $"partition", $"offset", $"key",
        $"__parsed.doc_id".as("doc_id"), $"__parsed.tokens".as("tokens"),
        $"__parsed.n_tok".as("n_tok"), $"__parsed.source".as("source"))
    val dead = classified
      .filter($"__error".isNotNull)
      .select($"topic", $"partition", $"offset", $"key", $"value", $"__error".as("error"))
      .as[DeadLetter]
    (valid, dead)
  }

  /** P2: the gRPC-mode parse arm (reference `MessageFormat::Grpc`
    * dispatch, `src/kafka/mod.rs:272-278`; parser left `todo!()` there,
    * `src/utils/mod.rs:158-164` — see [[ProtoCodec]] for the semantics
    * we give it). Same split contract as [[parse]]. The JSON path's
    * post-parse null quarantine is structurally vacuous here: proto3
    * wire format cannot express a null field (absent = MissingField
    * dead letter) nor a null array element, so every valid row already
    * satisfies the table's non-nullable schema.
    */
  def parseProto(msgs: Dataset[RawProtoMessage]): (DataFrame, Dataset[DeadLetter]) =
    ProtoParse.parse(msgs, payloadSchema)

  /** D1 first-wins dual-key dedup
    * (`/root/reference/src/pipeline/mod.rs:58-80`): a record loses if its
    * offset was already seen OR its non-null key was already seen; first
    * occurrence (lowest offset) wins. Two windowed passes — null keys
    * never collide on the key pass, matching the reference's
    * `Option<String>` key handling.
    */
  def dedupFirstWins(df: DataFrame, keyCol: String = "doc_id"): DataFrame = {
    // Offset identity is per (topic, partition): every Kafka partition
    // starts at offset 0, so a global offset set (what the reference's
    // `seen_offsets: HashSet<i64>` does, `src/pipeline/mod.rs:44`) would
    // collapse unrelated records — a recorded reference discrepancy we
    // deliberately do NOT replicate. Key identity stays global,
    // matching the reference's `seen_keys`.
    //
    // The tie-break among same-offset records with DIFFERENT payloads
    // must be payload-derived: ordering by the partition-constant
    // offset would let row_number() pick an arbitrary winner, so two
    // runs could keep different rows.
    val payloadCols = df.columns
      .filterNot(Set("topic", "partition", "offset").contains).map(col).toSeq
    val byOffset = Window
      .partitionBy(col("topic"), col("partition"), col("offset"))
      .orderBy(xxhash64(payloadCols: _*))
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col("offset"), col("topic"), col("partition"))
    df.withColumn("__ro", row_number().over(byOffset))
      .filter(col("__ro") === 1)
      .drop("__ro")
      .withColumn("__rk",
        when(col(keyCol).isNull, lit(1)).otherwise(row_number().over(byKey)))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** Per-(topic,partition) committed offset watermarks from a snapshot
    * summary — the engine's Kafka-offset-commit analog (X1): data commit
    * carries the watermark, so replaying an already-committed offset
    * range is a no-op. Watermarks inherit through every commit (see
    * TokenTable.commit) so maintenance ops never re-open the window.
    */
  def watermarks(s: Snapshot): Map[String, Long] =
    graft.table.Format.parseWatermarks(s.summary)

  /** One topic/partition's share of a batch: fresh offset bounds
    * (`mn > mx` when every message was replayed) and message counts.
    */
  private[ingest] case class Tally(mn: Long, mx: Long, replayed: Long,
      dead: Long, valid: Long) {
    def +(o: Tally): Tally = Tally(math.min(mn, o.mn), math.max(mx, o.mx),
      replayed + o.replayed, dead + o.dead, valid + o.valid)
  }
  private[ingest] object Tally {
    val Zero: Tally = Tally(Long.MaxValue, Long.MinValue, 0L, 0L, 0L)
    def of(offset: Long, replay: Boolean, dead: Boolean, valid: Boolean): Tally =
      if (replay) Zero.copy(replayed = 1L)
      else Tally(offset, offset, 0L, if (dead) 1L else 0L, if (valid) 1L else 0L)
  }

  case class IngestResult(snapshot: Snapshot, appended: Long, deduped: Long,
      deadLettered: Long, replayFiltered: Long)

  /** One ingest batch = one atomic snapshot (the reference's
    * flush-then-commit: Delta commit first, then offsets — here the
    * watermark rides inside the same atomic snapshot, which is strictly
    * stronger). One classified cache, one aggregate, then DLQ write +
    * dedup + write + commit: the batch is flagged for replay and
    * [[classify]]d (one parse pass) into one cached frame that
    * [[ingestFresh]] reads for every step.
    */
  def ingestBatch(table: TokenTable, msgs: Dataset[RawMessage],
      deadLetterDir: Option[String] = None): IngestResult = {
    val spark = table.spark
    import spark.implicits._
    val parent = if (table.currentVersion >= 0) Some(table.current) else None
    val wm = parent.map(watermarks).getOrElse(Map.empty)

    // Replay flag: offsets at or below the committed watermark. A
    // broadcast left-join against the (small) watermark table — NOT a
    // per-partition when()-chain, whose expression tree is
    // O(#topic-partitions) and collapses codegen at a few thousand
    // partitions, nor a map literal, whose lookup scans its keys per row.
    val flagged =
      if (wm.isEmpty) msgs.withColumn("__replay", lit(false))
      else {
        val wmDf = wm.toSeq.toDF("__tp", "__wm")
        msgs.withColumn("__tp", concat_ws("/", $"topic", $"partition"))
          .join(broadcast(wmDf), Seq("__tp"), "left")
          .withColumn("__replay", coalesce($"offset" <= $"__wm", lit(false)))
          .drop("__tp", "__wm")
      }
    val batch = classify(flagged).cache()
    try ingestFresh(table, batch, parent, deadLetterDir)
    finally batch.unpersist()
  }

  /** The cached-batch pipeline: one aggregate, then DLQ write + dedup +
    * write + commit, all reading the classified cache. Split out so the
    * cache is released on EVERY exit — a rebase-guard abort is an
    * expected outcome under concurrent writers and must not leak
    * executor storage.
    */
  private def ingestFresh(table: TokenTable, batch: DataFrame,
      parent: Option[Snapshot], deadLetterDir: Option[String]): IngestResult = {
    val spark = table.spark
    import spark.implicits._
    // One pass over the cache, folded per task and merged on the driver,
    // yields every count and this batch's per-partition fresh offset
    // ranges (max advances the watermark; min feeds the concurrent-writer
    // overlap guard below). A grouped aggregate would plan an exchange
    // and so one more job (its map stage) per batch.
    val tallies = batch
      .select(concat_ws("/", $"topic", $"partition"), $"offset", $"__replay",
        $"__error".isNotNull, $"__error".isNull && !$"__empty")
      .as[(String, Long, Boolean, Boolean, Boolean)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, Tally]
        rows.foreach { case (tp, offset, replay, dead, valid) =>
          acc(tp) = acc.getOrElse(tp, Tally.Zero) + Tally.of(offset, replay, dead, valid)
        }
        acc.iterator
      }
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
    // A partition whose messages were all replayed adds no range.
    val ranges = tallies.toSeq.collect {
      case (tp, t) if t.mn <= t.mx => (tp, t.mn, t.mx)
    }
    val newWm = ranges.map { case (tp, _, mx) => tp -> mx }.toMap
    val batchMin = ranges.map { case (tp, mn, _) => tp -> mn }.toMap
    val replayFiltered = tallies.values.map(_.replayed).sum
    // THIS batch's dead letters (the DLQ dir is cumulative).
    val deadCount = tallies.values.map(_.dead).sum
    val validCount = tallies.values.map(_.valid).sum

    val (valid, dead) = split(batch.filter(!$"__replay"))
    // Deterministic per-batch subdirectory + overwrite: a crash between
    // this write and the snapshot commit leaves the watermark
    // unadvanced, so the retried (byte-identical) batch re-writes the
    // SAME path instead of appending duplicate dead letters. The tag is
    // a full md5 of the batch's offset ranges — a 32-bit hash would
    // birthday-collide across a long-lived DLQ dir and overwrite would
    // silently erase an unrelated batch's dead letters. Read the DLQ
    // dir with recursiveFileLookup=true.
    val dlqPath: Option[String] =
      if (deadCount > 0) deadLetterDir.map { dir =>
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(ranges.sortBy(_._1).mkString(";").getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        s"$dir/batch-$tag"
      } else None
    dlqPath.foreach(p => dead.write.mode("overwrite").parquet(p))
    val rows = dedupFirstWins(valid)
      .sortWithinPartitions($"offset") // D2: offset order within files
      .select("doc_id", "tokens", "n_tok", "source")

    val added = table.writeDataFiles(rows, sortWithinFilesBy = None)
    val manifest = table.writeManifest(added)
    // Parent watermarks merge in at commit time (TokenTable.commit),
    // including against any concurrent commit we rebase onto. The
    // rebase guard closes the exactly-once hole for CONCURRENT
    // same-partition writers: both read the same parent watermark, both
    // pass the replay filter — so on rebase, abort if the rebased-onto
    // snapshot already covers any offset this batch appends.
    val guard: Snapshot => Unit = latest => {
      val lw = watermarks(latest)
      val overlap = batchMin.collect {
        case (tp, mn) if lw.get(tp).exists(_ >= mn) => tp
      }
      if (overlap.nonEmpty) throw new graft.table.CommitConflictException(
        s"ingest rebase would double-append offsets already committed by a " +
          s"concurrent writer for partitions ${overlap.mkString(", ")}")
    }
    val snap =
      try table.commit(parent, "ingest",
        addManifests = Seq(manifest),
        keepManifests = parent.map(_.manifests).getOrElse(Nil),
        removedPaths = Set.empty,
        summary = Map(
          graft.table.Format.WatermarksKey ->
            graft.table.Format.encodeWatermarks(newWm),
          "added-rows" -> added.map(_.rows).sum.toString,
          "dead-letters" -> deadCount.toString),
        maxAttempts = 64,
        rebaseGuard = Some(guard))
      catch {
        case e: graft.table.CommitConflictException =>
          // The batch did not commit: remove ITS dead-letter dir (a
          // retry sees a different watermark -> different surviving
          // offsets -> a different tag, so the stale dir would
          // double-count every dead letter it shares with the retry).
          dlqPath.foreach { p =>
            val root = java.nio.file.Paths.get(p)
            if (java.nio.file.Files.exists(root)) {
              val st = java.nio.file.Files.walk(root)
                .sorted(java.util.Comparator.reverseOrder())
              try st.iterator().forEachRemaining(q =>
                java.nio.file.Files.deleteIfExists(q))
              finally st.close()
            }
          }
          throw e
      }
    val appended = added.map(_.rows).sum
    IngestResult(snap, appended, validCount - appended, deadCount, replayFiltered)
  }
}
