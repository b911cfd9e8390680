package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TxnGen
import graft.gold.TxnGold
import graft.sources.VersionedTable
import graft.streaming.StreamPipes

object Ingest {
  /** Micro-batches per cycle and bronze rows per micro-batch. */
  val Batches = 2
  val Rows = 10000
  /** Share of a batch's keys that replay the previous batch (the merge path)
    * and share of rows planted with a data-quality failure (quarantine). */
  val ReplayShare = 0.10
  val DirtyShare = 0.02

  val clock: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-02 00:00:00")
  val start: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
}

/** medallion_ingest: cycles of `Batches` file micro-batches run through
  * `StreamPipes.silverForeachBatch`, one `Trigger.AvailableNow` run per batch
  * on one checkpoint, each followed by the Gold reads of the committed table.
  * Every cycle starts from empty tables, so each cycle does the same work. */
final class Ingest(spark: SparkSession, c: BenchMain.Conf, rec: Recorder) {
  import BenchMain._
  import Ingest._

  /** Seconds spent in the invariant checks, which set-up time excludes. */
  private var checking = 0.0

  /** All micro-batches, tagged `k`: the generator derives every column from
    * `value`. Batch k takes fresh keys, plus a replay of keys drawn from batch
    * k-1's fresh keys; the seed picks the replayed and the planted-dirty rows. */
  private def bronzeBatches(): DataFrame = {
    val fresh = (Rows * (1 - ReplayShare)).toLong
    val k = (col("id") / Rows).cast("long")
    val i = col("id") % Rows
    def draw(salt: String) = pmod(xxhash64(lit(c.seed), col("id"), lit(salt)), lit(1L << 30))
    val value = when(i < fresh || k === 0, k * Rows + i)
      .otherwise((k - 1) * Rows + draw("replay") % fresh)
    val src = spark.range(Batches.toLong * Rows)
      .select(k.as("k"), value.as("value"),
        (draw("dirty") % 10000 < (DirtyShare * 10000).toLong).as("dirty"))
      .withColumn("event_timestamp",
        timestamp_micros(lit(start.getTime * 1000L) + col("value") * 50000L))
    TxnGen.derive(src, clock)
      // planted failures: a non-positive amount or an unknown MCC code
      .withColumn("amount", when(col("dirty") && col("amount") > 250, lit(-1.0))
        .otherwise(col("amount")))
      .withColumn("mcc_code", when(col("dirty") && col("amount") >= 0, lit("0000"))
        .otherwise(col("mcc_code")))
      .drop("dirty")
  }

  /** Invariants after a commit, in one Spark action; returns the violations. */
  private def check(dir: String): Seq[String] = {
    val silver = VersionedTable.read(spark, s"$dir/silver").get
    val counts = silver.agg(count(lit(1)).as("n"), countDistinct("transaction_id").as("keys"),
      countDistinct("cardholder_token").as("holders"))
    val bronzeKeys = spark.read.parquet(s"$dir/bronze").select(col("transaction_id").as("b"))
      .distinct()
    val accounted = silver.select(col("transaction_id").as("a"))
      .union(spark.read.parquet(s"$dir/quarantine").select("transaction_id")).distinct()
    val unmatched = bronzeKeys.join(accounted, col("a") === col("b"), "full_outer")
      .filter(col("a").isNull || col("b").isNull).agg(count(lit(1)).as("unmatched"))
    val gold = TxnGold.cardholderFeatures(silver).agg(count(lit(1)).as("gold"))
    val r = counts.crossJoin(unmatched).crossJoin(gold).head()
    val Seq(n, keys, holders, miss, g) =
      Seq("n", "keys", "holders", "unmatched", "gold").map(r.getAs[Long])
    Seq(
      Option.when(n != keys)(s"silver has $n rows for $keys transaction ids"),
      Option.when(miss != 0)(s"$miss keys differ between bronze and silver plus quarantine"),
      Option.when(g != holders)(s"gold has $g rows for $holders cardholders")).flatten
  }

  private def cycle(pass: Int, inputs: Seq[File]): Double = {
    val dir = s"${c.work}/ingest/p$pass"
    val bronzeDir = new File(s"$dir/bronze")
    bronzeDir.mkdirs()
    var total = 0.0
    for ((input, k) <- inputs.zipWithIndex) {
      // the batch lands in the bronze directory before its timer starts
      Files.copy(input.toPath, new File(bronzeDir, input.getName).toPath)
      val outBefore = outputBytes(dir)
      rec.spans.op += 1
      val res = try {
        val (_, batchS) = time(rec.span("batch") {
          val q = StreamPipes.silverForeachBatch(
            StreamPipes.tableStream(spark, bronzeDir.getPath, schema),
            s"$dir/silver", s"$dir/quarantine", s"$dir/checkpoint", clock, TxnGen.ValidMcc)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        })
        val written = outputBytes(dir) - outBefore
        val (_, goldS) = time(rec.span("gold") {
          val silver = VersionedTable.read(spark, s"$dir/silver").get
          noop(TxnGold.cardholderFeatures(silver))
          noop(TxnGold.merchantRiskSummary(silver))
        })
        Right((batchS, goldS, written))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val (violations, checkS) = time(res.fold(_ => Seq.empty[String], _ => check(dir)))
      checking += checkS
      // outside the timer, as between catalog queries; the cold cycle only
      // releases, so set-up time holds no settling
      if (pass == 0) graft.Housekeeping.releaseAll(spark)
      else graft.Housekeeping.releaseAndSettle(spark)
      res match {
        case Right((batchS, goldS, written)) if violations.isEmpty =>
          total += batchS + goldS
          rec.op(pass, s"batch$k", batchS, Rows, None, Map("gold_s" -> goldS,
            "bronze_bytes" -> input.length, "written_bytes" -> written))
        case Right(_) => rec.op(pass, s"batch$k", -1, Rows, Some(violations.mkString("; ")))
        case Left(e) => rec.op(pass, s"batch$k", -1, Rows, Some(e))
      }
    }
    val versions = Option(new File(s"$dir/silver").listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.matches("v\\d+"))
    rec.put(s"cycle$pass", Map("bronze_bytes" -> inputs.map(_.length).sum,
      "output_bytes" -> outputBytes(dir), "versions" -> versions))
    total
  }

  private lazy val schema = spark.read.parquet(s"${c.work}/bronze-input").schema

  /** Writes each micro-batch once as a single parquet file; every cycle
    * replays the same files. */
  private def inputs(): Seq[File] = {
    val tmp = s"${c.work}/bronze-input/tmp"
    bronzeBatches().repartition(col("k")).write.partitionBy("k").parquet(tmp)
    val files = (0 until Batches).map { k =>
      val parts = new File(s"$tmp/k=$k").listFiles().filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"batch $k was written as ${parts.length} files")
      val f = new File(s"${c.work}/bronze-input/batch-$k.parquet")
      Files.move(parts.head.toPath, f.toPath)
      f
    }
    deleteRecursively(new File(tmp))
    files
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Bytes on disk under the ingest's output directories. */
  private def outputBytes(dir: String): Long =
    Seq("silver", "quarantine", "checkpoint").map(d => dirBytes(new File(s"$dir/$d"))).sum

  def run(t0: Long): Unit = {
    // input generation and checking are the benchmark's own work, not set-up
    val (files, genS) = time(inputs())
    cycle(0, files)
    rec.put("setup_s", (System.nanoTime() - t0) / 1e9 - genS - checking)
    graft.Housekeeping.releaseAndSettle(spark)
    HeapPeak.reset()
    rec.calibrate("calib_pre")
    val startNs = System.nanoTime()
    var pass = 1
    while (pass <= rec.minPasses || (System.nanoTime() - startNs) / 1e9 < c.seconds) {
      rec.setTracing(c.trace && pass % 4 >= 2)
      rec.pass(pass, cycle(pass, files))
      pass += 1
    }
    rec.setTracing(false)
    rec.calibrate("calib_post")
  }
}
