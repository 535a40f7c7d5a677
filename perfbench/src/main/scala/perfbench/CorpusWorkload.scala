package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.{CorpusWriter, Packing, Sampling, TextAnalysis, TrainingPipeline}
import graft.sim.WarehouseSim

/**
 * `corpus_build`: `TrainingPipeline.buildCorpus` → `CorpusWriter.writeShards`
 * laid out by (`source`, `split`) over the sf0.1 `documents` table plus
 * `Replicas - 1` salted replicas with disjoint ids (the ScaleProbe
 * construction); the seed picks the salt. One op is one build, from the
 * input parquet to the written shards.
 *
 * The traced half also runs the `Heavy` training-data queries from
 * `SparkEntry.queries` once each over a seeded sample of `documents` and
 * seeded `embeddings`: the `queries` layer (iterative loops and persisted
 * indexes).
 */
final class CorpusWorkload(env: Env) extends Workload {
  import CorpusWorkload._
  private val spark = env.spark
  private val root = env.dir("corpus")
  private val input = env.uri(root.resolve("documents.parquet"))
  private var builds = 0
  private var expected = (0L, "")
  private val failures = mutable.ArrayBuffer.empty[String]
  private val prefixS = mutable.Map.empty[String, Double]
  private val rows = mutable.LinkedHashMap.empty[String, Long]
  private var written = (0L, 0L)
  private val queryMs = mutable.LinkedHashMap.empty[String, (Double, Double)]

  private def documents: DataFrame =
    WarehouseSim.read(spark, s"${env.data}/sf0.1", "documents")

  def generate(): String = {
    val base = documents.select("doc_id", "text", "source")
    val docs = (0 until Replicas).map { i =>
      base.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) col("text") else concat(col("text"), lit(s" probe${env.seed}x$i")))
          .as("text"),
        col("source"))
    }.reduce(_ unionAll _)
    docs.repartition(env.cores).write.mode("overwrite").parquet(input)
    val (n, h) = digest(spark.read.parquet(input))
    s"docs=$n replicas=$Replicas hash=$h"
  }

  /** Row count and order-independent hash of a result: floating columns
    * rounded to 6 decimals, nested values as JSON. */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6).cast("string")
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast("string")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private val cfg = TrainingPipeline.Config()
  private val outCols = Seq("doc_id", "source", "split", "n_tokens", "bin_id")

  private def out(b: Int) = env.uri(root.resolve(s"shards-$b"))

  private def build(): Unit = {
    builds += 1
    Gen.deleteTree(root.resolve(s"shards-${builds - 1}"))
    val corpus = TrainingPipeline.buildCorpus(spark.read.parquet(input), cfg)
    Trace.span("corpus.write")(
      CorpusWriter.writeShards(corpus, out(builds), Seq("source", "split"), "doc_id",
        shardsPerLeaf = 2, numTasks = env.cores * 4))
  }

  /** Reads the shards back: same rows and hash as the built corpus. */
  private def verify(): Unit = {
    val got = digest(spark.read.parquet(out(builds)).select(outCols.map(col): _*))
    if (got != expected) failures += s"build $builds wrote $got, expected $expected"
  }

  def warmup(): Unit = {
    expected = digest(TrainingPipeline.buildCorpus(spark.read.parquet(input), cfg)
      .select(outCols.map(col): _*))
    for (_ <- 0 until WarmupBuilds) { build(); verify() }
  }

  def measure(deadlineNs: Long, m: Measure): Unit = {
    def one(): Unit = {
      val t0 = System.nanoTime()
      Trace.op("op.build") {
        try build() catch { case e: Exception => m.failed += 1; failures += s"build: $e" }
      }
      m.record((System.nanoTime() - t0) / 1e6)
      verify()
    }
    one()
    while (System.nanoTime() < deadlineNs) one()
  }

  override def probes(m: Measure): Unit = {
    stages()
    queries(m)
  }

  /** Stage-prefix counts of the chain `buildCorpus` composes, outside the
    * timed ops: a prefix's time less the previous prefix's is the stage's
    * own time, and the counts are the row funnel. */
  private def stages(): Unit = {
    val docs = spark.read.parquet(input)
    val scored = TextAnalysis.withQuality(docs).filter(col("quality_score") >= cfg.minQuality)
    val kept = scored.withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min_by(struct(col("doc_id"), col("source"), col("n_tokens")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.n_tokens").cast("long").as("n_tokens"))
    val mixed = Sampling.weightedMix(kept, "source", cfg.mixWeights, cfg.defaultRate)
      .withColumn("split", Sampling.assignSplit(col("doc_id"), cfg.splits))
    val packed = Packing.packContiguousBy(mixed, Seq("source", "split"), "doc_id",
      "n_tokens", cfg.packBudget)
    var prev = 0.0
    Seq("in" -> docs, "quality" -> scored, "dedup" -> kept, "mix" -> mixed,
      "pack" -> packed).foreach { case (k, df) =>
      val t0 = System.nanoTime()
      rows(k) = Trace.span(s"pipeline.prefix.$k")(df.count())
      val s = (System.nanoTime() - t0) / 1e9
      prefixS(k) = s - prev
      prev = s
    }
    if (rows("pack") != expected._1)
      failures += s"stage prefix chain gives ${rows("pack")} rows, buildCorpus ${expected._1}"
    val (n, b, _) = Gen.treeDigest(Paths.get(java.net.URI.create(out(builds))))
    written = (n, b)
  }

  /** The heavy training-data queries, each run once: `fn(spark, dir)` is
    * the build, the count and hash of its result the execution. Results
    * are checked against the committed expectation for the seed, if any. */
  private def queries(m: Measure): Unit = {
    val dir = env.uri(env.dir("tables"))
    documents.filter(pmod(xxhash64(lit(env.seed), col("doc_id")), lit(QuerySample)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Gen.embeddings(spark, QueryVectors, env.seed).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val committed = expectations()
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    Heavy.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      try {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        val t0 = System.nanoTime()
        val df = Trace.span("queries.build")(fn(spark, dir))
        val t1 = System.nanoTime()
        got(q) = Trace.span("queries.exec")(digest(df))
        queryMs(q) = ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
      } catch { case e: Exception => m.failed += 1; failures += s"$q: $e" }
    }
    Files.writeString(env.work.getParent.resolve(s"queries-seed${env.seed}.json"),
      got.map { case (q, (n, h)) => s""""$q":[$n,"$h"]""" }.mkString("{", ",\n", "}\n"))
    committed.foreach { c =>
      val bad = Heavy.filter(q => !c.get(q).contains(got.getOrElse(q, (-1L, ""))))
      if (bad.nonEmpty) failures += s"results differ from the committed expectation: ${bad.mkString(",")}"
    }
  }

  /** The committed (count, hash) per heavy query, if a file covers the seed. */
  private def expectations(): Option[Map[String, (Long, String)]] = {
    val p = Paths.get(sys.props.getOrElse("perfbench.expect", "."))
      .resolve(s"queries-seed${env.seed}.json")
    if (!Files.isRegularFile(p)) None
    else {
      val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      Some(t.fieldNames().asScala.map(q =>
        q -> (t.get(q).get(0).asLong(), t.get(q).get(1).asText())).toMap)
    }
  }

  def check(): Unit =
    if (failures.nonEmpty) throw new IllegalStateException(failures.mkString("; "))

  def layers(sink: Sink, m: Measure): Unit = {
    Seq("quality", "dedup", "mix", "pack").foreach(k =>
      sink.set(s"pipeline.${k}_s", prefixS.getOrElse(k, 0.0)))
    Seq("in", "quality", "dedup", "mix", "pack").zip(Seq("in", "quality", "dedup", "mixed", "out"))
      .foreach { case (k, n) => sink.set(s"pipeline.rows_$n", rows.getOrElse(k, 0L).toDouble) }
    sink.set("corpus.write_s", Stats.median(Trace.durationsMs("corpus.write")) / 1000.0)
    sink.set("corpus.files_written", written._1.toDouble)
    sink.set("corpus.bytes_written", written._2.toDouble)
    sink.set("queries.build_s", queryMs.values.map(_._1).sum / 1000.0)
    sink.set("queries.exec_s", queryMs.values.map(_._2).sum / 1000.0)
    queryMs.foreach { case (q, (b, e)) => sink.set(s"q.${q}_s", (b + e) / 1000.0) }
    sink.set("trace.uncovered_frac", Coverage.uncoveredFrac())
  }
}

object CorpusWorkload {
  val Replicas = 4
  val WarmupBuilds = 3
  /** The queries read one in `QuerySample` documents (about 500). */
  val QuerySample = 10
  val QueryVectors = 500L
  /** One line per mechanism: the connected-components loop, and the IVF
    * index lifecycle with MMR selection. */
  val Heavy: Seq[String] = Seq("dedup_clusters_loground", "retr_mmr_indexed")
}
