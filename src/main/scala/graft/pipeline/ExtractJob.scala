package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.core._
import graft.html.HtmlBoilerplate

/** The extraction pipeline — SURVEY §2.10 stages P1-P9.
  *
  * Plan shape (one wide transformation, one narrow map, one observed write):
  *   scan -> filter -> Exchange hashpartitioning(conv_id, salt) ->
  *   MapPartitions(extractTurn) -> CollectMetrics(per-shard rows, bytes) ->
  *   Sort(shard, conv_id, turn_idx) -> write -> manifests
  *
  * The salted repartition bounds any single conversation's share of a partition at
  * 1/SALT (north rule: "explicit salted repartitioning on conv_id to defeat
  * long-conversation skew"); per-turn extraction is row-independent so splitting a
  * conversation never affects correctness. Throughput then scales with cores because
  * post-shuffle partitions are uniform and extraction is CPU-bound.
  */
object ExtractJob {

  /** Salt fan-out: a 10^6-turn conversation spreads over SALT buckets. */
  val SALT = 64

  /** Per-row extraction. The reference panics on malformed input; here every parse
    * failure lands in the `error` column so one poison payload cannot kill a
    * 10^12-row job (the golden gate separately asserts zero errors on fixture rows).
    */
  def extractTurn(t: Turn): ExtractedTurn = {
    try {
      val (res, kind) = t.tool match {
        case "pdf-b64" =>
          val bytes = java.util.Base64.getDecoder.decode(t.text)
          (Pdf(bytes).extractResult(ExtractText), "pdf")
        case "pdf-b64-lenient" =>
          // engine extension: lenient xref layer for 1.5+ documents (xref
          // streams / object streams / predictors) the reference cannot open;
          // strict "pdf-b64" stays the byte-exact default
          val bytes = java.util.Base64.getDecoder.decode(t.text)
          (Pdf.lenient(bytes).extractResult(ExtractText), "pdf-lenient")
        case "pdf-b64-lenient-text" =>
          // widest lenient surface: lenient xref + the Tw/Tz/TL/Ts/'/" text
          // operators (its own flag — forks text assembly, so it never rides
          // the plain lenient route silently)
          val bytes = java.util.Base64.getDecoder.decode(t.text)
          (Pdf.lenientText(bytes).extractResult(ExtractText), "pdf-lenient-text")
        case "html" =>
          (HtmlBoilerplate.extract(t.text), "html")
        case "auto" =>
          // unlabeled corpora: sniff the payload kind from the bytes (PDF magic,
          // base64-of-PDF magic, HTML tag presence) and route accordingly; a raw
          // "%PDF-" payload in a string column is decoded best-effort as
          // ISO-8859-1 (binary PDFs normally arrive base64-encoded)
          graft.functions.TextFunctions.sniffKind(t.text) match {
            case "pdf-b64" =>
              val bytes = java.util.Base64.getDecoder.decode(t.text)
              (Pdf(bytes).extractResult(ExtractText), "pdf")
            case "pdf" =>
              val bytes = t.text.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
              (Pdf(bytes).extractResult(ExtractText), "pdf")
            case "html" =>
              (HtmlBoilerplate.extract(t.text), "html")
            case _ =>
              (ExtractResult(t.text, Vector(Span("plain", 0, t.text.length))), "plain")
          }
        case _ =>
          (ExtractResult(t.text, Vector(Span("plain", 0, t.text.length))), "plain")
      }
      ExtractedTurn(t.conv_id, t.turn_idx, res.text,
        res.spans.map(s => SpanRow(s.op, s.start, s.end)), kind, null)
    } catch {
      case e: PdfParseException =>
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool, e.getMessage)
      case scala.util.control.NonFatal(e) =>
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case e: StackOverflowError =>
        // Backstop behind the parser depth limits (ObjParser.MaxNesting,
        // PageTree.MaxTreeDepth, XRef.MaxPrevChain): NonFatal excludes SOE, and
        // an uncaught one would fail the task — after retries, the whole
        // 10^12-row job — on one crafted payload. Per-row scope: the frame has
        // fully unwound here and no shared state exists, so catching is safe.
        ExtractedTurn(t.conv_id, t.turn_idx, null, Seq.empty, t.tool,
          "StackOverflowError: recursion limit exceeded in payload parse")
    }
  }

  /** P3: explicit salted repartition keyed (conv_id, salt). */
  def saltedRepartition(input: Dataset[Turn], partitions: Int): Dataset[Turn] =
    input.repartition(partitions, col("conv_id"),
      pmod(hash(col("conv_id"), col("turn_idx")), lit(SALT)))

  /** P3+P4: the extraction transform. mapPartitions (not a per-row udf) keeps
    * per-partition setup amortized and object churn off Catalyst's serializer path.
    */
  def extract(input: Dataset[Turn], partitions: Int): Dataset[ExtractedTurn] = {
    import input.sparkSession.implicits._
    saltedRepartition(input, partitions).mapPartitions(_.map(extractTurn))
  }

  /** P7: extraction-rate metrics as Spark accumulators (cluster-wide counters
    * that survive task retries' final accounting; complement the per-shard
    * manifest metrics).
    */
  final case class ExtractMetrics(
      rows: org.apache.spark.util.LongAccumulator,
      errors: org.apache.spark.util.LongAccumulator,
      chars: org.apache.spark.util.LongAccumulator)

  object ExtractMetrics {
    def register(spark: SparkSession): ExtractMetrics = ExtractMetrics(
      spark.sparkContext.longAccumulator("graft.extract.rows"),
      spark.sparkContext.longAccumulator("graft.extract.errors"),
      spark.sparkContext.longAccumulator("graft.extract.chars"))
  }

  /** extract() with live accumulator metrics. */
  def extractWithMetrics(input: Dataset[Turn], partitions: Int,
                         m: ExtractMetrics): Dataset[ExtractedTurn] = {
    import input.sparkSession.implicits._
    saltedRepartition(input, partitions).mapPartitions(_.map { t =>
      val e = extractTurn(t)
      m.rows.add(1)
      if (e.error != null) m.errors.add(1)
      else if (e.extracted_text != null) m.chars.add(e.extracted_text.length)
      e
    })
  }

  /** Narrow variant: extraction on the scan partitions, NO shuffle. Correct
    * whenever the source layout is already splittable-uniform (parquet row groups
    * split a long conversation across tasks by construction). At 100TB the salted
    * repartition (P3) is for sources whose layout clusters heavy conversations
    * (e.g. Iceberg bucketed by conv); when it isn't needed, skipping the exchange
    * removes the full-payload shuffle — the pipeline's only wide stage.
    */
  def extractNarrow(input: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import input.sparkSession.implicits._
    input.mapPartitions(_.map(extractTurn))
  }

  /** P6: golden gate — byte-exact per-turn text equality. Returns diff rows
    * (empty => gate passes). Broadcast hints go only where the SMALL golden table
    * is the build side (mismatch inner join, extra anti-join). The missing-branch
    * anti-join probes golden against all extracted keys — broadcasting the
    * extracted side would ship the whole output through the driver, so that join
    * is left to shuffle (tiny: keys only, and the left side is small).
    */
  def goldenDiff(extracted: Dataset[ExtractedTurn], golden: Dataset[Golden]): DataFrame = {
    val e = extracted.toDF()
    val g = golden.toDF()
    val keys = Seq("conv_id", "turn_idx")
    val keyCols = keys.map(col)
    val mismatches = e.join(broadcast(g), keys)
      .where(col("error").isNotNull ||
        (col("gate").isin("exact", "snapshot") && !(col("extracted_text") <=> col("expected_text"))))
      .select(keyCols :+ lit("mismatch").as("reason"): _*)
    val missing = g.join(e.select(keyCols: _*), keys, "left_anti")
      .select(keyCols :+ lit("missing").as("reason"): _*)
    val extra = e.join(broadcast(g.select(keyCols: _*)), keys, "left_anti")
      .select(keyCols :+ lit("extra").as("reason"): _*)
    mismatches.union(missing).union(extra)
  }

  // ----- P8: checkpoint manifests + resume ---------------------------------------

  /** Output layout: `outDir/data/shard=<k>/...parquet` + `outDir/_manifests`.
    * A shard is the resume unit: an idempotent overwrite of one directory followed
    * by a manifest append. A failed run leaves completed shards' manifests in place;
    * `runWithManifests` anti-joins them away on rerun, so the final table equals an
    * uninterrupted run and per-shard extraction-rate metrics survive.
    */
  def shardCol: org.apache.spark.sql.Column = pmod(hash(col("conv_id")), lit(SALT))

  /** Storage backend (SURVEY §1.2): Parquet+manifests here; Iceberg on clusters
    * that ship the runtime jar (see TableIO).
    */
  val io: TableIO = ParquetTableIO

  def completedShards(spark: SparkSession, outDir: String): Set[Int] = {
    if (!io.manifestsExist(spark, outDir)) Set.empty
    else {
      import spark.implicits._
      io.readManifests(spark, outDir)
        .filter(_.status == "done").map(_.part_id).collect().toSet
    }
  }

  /** Per-shard rows and chars of `extracted_text` from `(shard, chars)` rows, in
    * one array (shard k at slots 2k and 2k+1): one update per row however wide
    * the wave, where an aggregate per shard would run every one on every row.
    */
  private final class ShardStats(shards: Int) extends Aggregator[(Int, Int), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * shards)
    def reduce(b: Array[Long], in: (Int, Int)): Array[Long] = { b(2 * in._1) += 1; b(2 * in._1 + 1) += in._2; b }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = { a.indices.foreach(i => a(i) += b(i)); a }
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Run extraction with per-shard checkpoint manifests. `shards` counts resume
    * units; `partitions` is the shuffle width. `failAtShard` injects a crash
    * after N committed shards (resume tests).
    *
    * ONE input scan per wave (default: all remaining shards in a single wave):
    * filter to the remaining shards -> extract -> partitionBy(shard) write with
    * DYNAMIC partition overwrite -> manifest rows for the wave. The per-shard
    * rows and bytes are observed on the write itself (`ShardStats`), so at
    * 100TB a wave is 1 input pass and no output pass — never O(shards) input
    * rescans.
    * `waveSize` trades scan count for resume granularity: a crashed wave
    * recommits only its own shards on rerun (its partial directories are
    * dynamically overwritten, committed shards untouched).
    */
  def runWithManifests(
      spark: SparkSession,
      input: Dataset[Turn],
      outDir: String,
      shards: Int,
      partitions: Int,
      failAtShard: Int = -1,
      waveSize: Int = Int.MaxValue
  ): Unit = {
    val done = completedShards(spark, outDir)
    val remaining = (0 until shards).filterNot(done)
    val shardOf = pmod(hash(col("conv_id")), lit(shards))
    var committed = done.size
    // crash injection promises "fail after N COMMITTED SHARDS" — meaningless at
    // a multi-shard wave granularity, so it forces shard-granular waves
    val effectiveWave = if (failAtShard >= 0) 1 else math.max(1, waveSize)
    remaining.grouped(effectiveWave).foreach { wave =>
      // wave_id = the wave's first shard: unique across resume runs too (a
      // shard's manifest commits exactly once), unlike a per-run counter
      val waveId = wave.head
      if (failAtShard >= 0 && committed >= failAtShard)
        throw new RuntimeException(s"injected failure after $committed shards")
      val t0 = System.nanoTime()
      // per-shard stats observed on the rows the write job emits: observed
      // aggregates are accumulator updates of its result tasks, applied once
      // per successful partition (never from failed or retried attempts), so
      // they count exactly what the write committed
      val observed = Observation()
      val shardStats = udaf(new ShardStats(shards), Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt))
      val out = extract(input.where(shardOf.isin(wave: _*)), partitions)
        .withColumn("shard", shardOf)
        .observe(observed,
          shardStats(col("shard"), coalesce(length(col("extracted_text")), lit(0))).as("stats"))
        // P5 (prod-scale ordering). The partitioned write needs `shard` order
        // and would sort by it alone on top, dropping a (conv_id, turn_idx)
        // sort below; leading with `shard` meets that need with one sort.
        .sortWithinPartitions("shard", "conv_id", "turn_idx")
      io.writeShards(out, outDir)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val stats = observed.get("stats").asInstanceOf[collection.Seq[Long]]
      def rowsOf(k: Int): Long = stats(2 * k)
      def bytesOf(k: Int): Long = stats(2 * k + 1)
      // per-shard wall_ms = the wave's wall split PROPORTIONALLY by bytes (the
      // extraction-cost driver), falling back to rows, then to an equal split
      // for all-empty waves. Cumulative allocation makes each wave's shard
      // sum EXACTLY the wave wall, so per-shard rates are honest at any
      // waveSize (a 4-shard wave no longer reports 4x the wall) and wave-level
      // wall is reconstructable as sum(wall_ms) group by wave_id.
      val weights: Seq[Long] = {
        val bytes = wave.map(bytesOf)
        if (bytes.sum > 0) bytes
        else {
          val rows = wave.map(rowsOf)
          if (rows.sum > 0) rows else wave.map(_ => 1L)
        }
      }
      val totW = weights.sum
      val cumW = weights.scanLeft(0L)(_ + _)
      // wallMs * cumW must not overflow Long: a 17-minute wave over ~10 TB
      // puts the product past 2^63 (ADVICE round 5) — BigInteger keeps the
      // cumulative allocation exact at any scale (once per shard, off the hot
      // path)
      val wallBig = java.math.BigInteger.valueOf(wallMs)
      val totBig = java.math.BigInteger.valueOf(totW)
      def alloc(c: Long): Long =
        wallBig.multiply(java.math.BigInteger.valueOf(c)).divide(totBig).longValueExact()
      io.appendManifests(spark, outDir, wave.zipWithIndex.map { case (k, i) =>
        val share = alloc(cumW(i + 1)) - alloc(cumW(i))
        PartManifest(k, SALT, rowsOf(k), bytesOf(k), share, waveId, "done")
      })
      committed += wave.size
    }
  }

  def readOutput(spark: SparkSession, outDir: String): Dataset[ExtractedTurn] =
    io.readOutput(spark, outDir)

  def manifests(spark: SparkSession, outDir: String): Dataset[PartManifest] =
    io.readManifests(spark, outDir)
}
