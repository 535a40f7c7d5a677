package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded input generators: the same seed gives the same embeddings and
 * file bodies at any parallelism. Embeddings have the columns graft's
 * training-data queries read.
 */
object Gen {
  private val Two52 = (1L << 52).toDouble

  /** Uniform [0, 1) from (seed, salt, id). */
  def u(seed: Long, salt: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 52)).cast("double") / lit(Two52)

  /** `n` unit vectors of 64 floats around ten label centroids. */
  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n)
      .withColumn("label", floor(u(seed, 50, id) * 10).cast("int"))
      .withColumn("raw", expr(
        s"transform(sequence(0, 63), d -> " +
        s"(pmod(xxhash64(${seed}L, 51, label, d), 1000003) / 1000003.0 - 0.5) * 0.6 + " +
        s"(pmod(xxhash64(${seed}L, 52, id, d), 1000003) / 1000003.0 - 0.5) * 0.2)"))
      .withColumn("norm", expr("sqrt(aggregate(raw, 0D, (a, x) -> a + x * x))"))
      .select(id.as("vec_id"),
        expr("transform(raw, x -> cast(x / norm as float))").as("embedding"),
        col("label"))
  }

  /** Deterministic file body: `size` bytes from a seeded generator. */
  def writeBytes(p: Path, size: Int, seed: Long): Unit = {
    val rnd = new java.util.SplittableRandom(seed)
    val b = new Array[Byte](size)
    var i = 0
    while (i < size) { b(i) = rnd.nextInt(256).toByte; i += 1 }
    Files.createDirectories(p.getParent)
    Files.write(p, b)
    ()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  /** (count, bytes, sha-256) of every visible regular file under `root`,
    * keyed by relative path: the digest a run prints to prove its inputs. */
  def treeDigest(root: Path): (Long, Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var n = 0L
    var bytes = 0L
    if (Files.exists(root)) {
      val s = Files.walk(root)
      val files = try s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
        .filterNot(p => root.relativize(p).toString.split('/').exists(graft.fs.FsOps.isHidden))
        .sortBy(p => root.relativize(p).toString)
      finally s.close()
      files.foreach { f =>
        n += 1
        bytes += Files.size(f)
        md.update(root.relativize(f).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(f))
      }
    }
    (n, bytes, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
