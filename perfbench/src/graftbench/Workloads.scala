package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.llm.Dedup
import graft.streaming.{BandedShingleRow, StreamOps}

/** What an op sees: the session, its inputs, a scratch dir, and (in the
  * traced run) the tracer. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val streams: StreamListener) {
  var tracer: Option[Tracer] = None
  /** micro-batches of every stream run, in order */
  val batches = scala.collection.mutable.ArrayBuffer
    .empty[StreamListener#Batch]
  /** per stream run: (query wall s, Σ batch ms) */
  val streamRuns = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
  private var scratchN = 0

  def table(t: String): DataFrame = spark.read.parquet(s"$data/$t.parquet")

  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))

  /** A fresh directory under the run's work dir, removed by [[cleanup]]. */
  def scratch(tag: String): String = {
    scratchN += 1
    val d = new File(s"$work/scratch/$tag-$scratchN")
    d.mkdirs()
    d.getPath
  }
  def cleanup(): Unit = Ctx.delete(new File(s"$work/scratch"))
}

object Ctx {
  def delete(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}

/** One benchmarked operation. `run` is the call (a registry row or a
  * stream over the landing files) and `layer` the layer it belongs to.
  * `inputs` are the tables it reads (for input rows); `checks` are
  * invariants on its output, tested once per run. */
final case class Op(
    name: String,
    layer: String,
    inputs: Seq[String],
    run: Ctx => DataFrame,
    checks: Seq[(Ctx, DataFrame) => Option[String]] = Nil)

object Workloads {
  /** The layers an op's spans are in. */
  val Layers = Seq("features", "llm.dedup", "llm.multimodal", "llm.text",
    "streaming", "entry")

  private def row(name: String): Ctx => DataFrame = {
    val q = SparkEntry.queries(name)
    c => q(c.spark, c.data)
  }

  private def reg(name: String, layer: String, inputs: Seq[String],
      checks: Seq[(Ctx, DataFrame) => Option[String]] = Nil): Op =
    Op(name, layer, inputs, row(name), checks)

  // ------------------------------------------------------------ checks
  private def atLeast(column: String, bound: Double)(c: Ctx, df: DataFrame)
      : Option[String] = {
    val bad = df.filter(col(column) < bound - 1e-9).count()
    if (bad == 0) None else Some(s"$bad rows with $column < $bound")
  }

  /** keepers ⊆ inputs: every id in `column` is an input document id. */
  private def subsetOf(docs: Ctx => DataFrame, column: String)(c: Ctx,
      df: DataFrame): Option[String] = {
    val extra = df.select(col(column).as("doc_id")).distinct()
      .join(docs(c).select("doc_id"), Seq("doc_id"), "left_anti").count()
    if (extra == 0) None else Some(s"$extra $column values are not inputs")
  }
  private def landedDocs(c: Ctx): DataFrame =
    c.spark.read.parquet(s"${c.data}/landing/docs")

  private def weightsInRange(c: Ctx, df: DataFrame): Option[String] = {
    val bad = df.filter(col("weight") <= 0 || col("weight") > 1).count()
    if (bad == 0) None else Some(s"$bad weights outside (0, 1]")
  }

  // --------------------------------------------------------- streams
  /** Run `stream` to completion under AvailableNow into a parquet sink
    * and read the sink back. Batches are recorded from the listener. */
  private def runStream(c: Ctx, op: String, stream: DataFrame): DataFrame = {
    val dir = c.scratch(op)
    val t0 = System.nanoTime()
    val q = stream.writeStream.format("parquet").outputMode("append")
      .option("checkpointLocation", s"$dir/chk")
      .option("path", s"$dir/out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val bs = c.streams.await(q.runId)
    c.batches ++= bs
    c.streamRuns += ((wall, bs.map(_.ms).sum))
    c.spark.read.parquet(s"$dir/out")
  }

  private def landing(c: Ctx, name: String, oneBatch: Boolean): DataFrame = {
    val dir = s"${c.data}/landing/$name"
    val r = c.spark.readStream.schema(c.spark.read.parquet(dir).schema)
    (if (oneBatch) r else r.option("maxFilesPerTrigger", 1L)).parquet(dir)
  }

  def nearDedupStream(c: Ctx, oneBatch: Boolean): DataFrame = {
    import c.spark.implicits._
    val banded = Dedup.minhashBandedShingles(
      landing(c, "docs", oneBatch).select("doc_id", "text"))
      .as[BandedShingleRow]
    runStream(c, "stream_near_dedup",
      StreamOps.nearDedupStream(banded, minJaccard = 0.95).toDF())
  }

  /** The streaming keeper's output equals the same operator run as one
    * batch over all landing files. */
  private def sameAsOneBatch(f: (Ctx, Boolean) => DataFrame)(c: Ctx,
      df: DataFrame): Option[String] = {
    val one = Digest.of(f(c, true))
    val many = Digest.of(df)
    if (one == many) None else Some(s"per-file $many != one batch $one")
  }

  // ------------------------------------------------------- workloads
  val featuresMl: Seq[Op] = Seq(
    "prepare_features" -> Seq("customer"),
    "robust_scaling" -> Seq("lineitem"),
    "probability_prediction" -> Seq("customer"),
  ).map { case (n, in) => reg(n, "features", in) }

  val dedupCorpus: Seq[Op] = Seq(
    reg("dedup_cluster_weights", "llm.dedup", Seq("documents"),
      Seq(weightsInRange, subsetOf(_.table("documents"), "doc_id"))),
    reg("multimodal_audio_pairs", "llm.multimodal", Seq("documents")),
  )

  val ingestStream: Seq[Op] = Seq(
    Op("stream_near_dedup", "streaming", Seq("landing/docs"),
      nearDedupStream(_, oneBatch = false),
      Seq(sameAsOneBatch(nearDedupStream), atLeast("jaccard", 0.95),
        subsetOf(landedDocs, "doc_id"), subsetOf(landedDocs, "kept_id"))),
    reg("text_bm25_append", "llm.text", Seq("documents")),
  )

  val all: Map[String, Seq[Op]] = Map(
    "features_ml" -> featuresMl,
    "dedup_corpus" -> dedupCorpus,
    "ingest_stream" -> ingestStream)
}
