package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.batch.{BatchConfig, BatchReplication}
import graft.catalog.{CatalogSnapshot, JdbcCatalogClient, JdbcCatalogConnector}
import graft.fs.{CopyExec, FsOps}
import graft.hdfs.HdfsSync
import graft.model.{Action, ColumnMeta, PartitionMeta, TableMeta}
import graft.planner.DiffPlanner
import graft.sim.WarehouseSim

/**
 * `batch_replication`: one op is one delta round (`plan` → `copyData` →
 * `commit`) after an untimed seeded mutation of six source objects: a
 * TLDT bump with a rewritten file on a table and on a partition, a new and
 * a dropped partition, a new and a dropped table. The source is a Derby
 * catalog over real files; set-up converges an empty destination with a
 * full round and runs one multi-root `HdfsSync.run` of two overlapping
 * roots onto a stale destination. The traced half runs the same ops with
 * spans around `plan`, `copyData` and `commit`; after them it times the
 * steps of `plan` on their own, repeats the full round and the sync on a
 * fresh copy, so their layers are measured too, and runs an incremental
 * burst (see [[IncrementalBurst]]) for the layers of the incremental
 * server and its tasks.
 */
final class BatchWorkload(env: Env) extends Workload {
  import BatchWorkload._
  import Coverage.uncoveredFrac
  private val spark = env.spark
  private val root = env.dir("batch")
  private var main: Fixture = _
  private var cur: Cycle = _
  private var cycle = 0
  private var rounds = 0
  private var dbs = List.empty[String]
  private val failures = ArrayBuffer.empty[String]
  // traced-phase bookkeeping
  private var fullRound = (0L, 0L)
  private val deltaCopied = ArrayBuffer.empty[Long]
  private var filesListed = 0L
  private lazy val incremental = new IncrementalBurst(env)
  private val incrementalOps = new Measure
  private val roundMs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

  /** A generated source warehouse (locations relative to `wh`), two HDFS
    * source roots and a stale HDFS destination. */
  private final case class Fixture(wh: Path, tables: Seq[TableMeta],
      parts: Seq[PartitionMeta], hdfsA: Path, hdfsB: Path, hdfsDest: Path,
      hdfsExpected: (Long, Long))

  // ---- fixtures -----------------------------------------------------------

  def generate(): String = {
    main = fixture("main", (PartitionedTables, PlainTables), HdfsPaths, env.seed)
    val (n, b, d) = Gen.treeDigest(main.wh)
    val hd = Seq(main.hdfsA, main.hdfsB, main.hdfsDest).map(Gen.treeDigest)
    val metaDigest = Integer.toHexString(
      (main.tables.map(_.toString) ++ main.parts.map(_.toString)).hashCode)
    s"tables=${main.tables.size} partitions=${main.parts.size} files=$n bytes=$b wh=$d " +
      s"hdfs_files=${hd.map(_._1).mkString("/")} hdfs_bytes=${hd.map(_._2).mkString("/")} " +
      s"hdfs=${hd.map(_._3).mkString} meta=$metaDigest"
  }

  /** The source warehouse: `PartitionedTables` partitioned and
    * `PlainTables` unpartitioned tables drawn by the seed from the sf0.01
    * inventories (`WarehouseSim.srcTables`, `srcPartitions`, `srcFiles`),
    * each cut to `PerTable` objects picked by the seed: partitions of a
    * partitioned table, with their files, or files of an unpartitioned
    * one. File sizes are the inventory's scaled by `1 / SizeDiv`; bodies
    * are seeded bytes. The counts of tables and objects are fixed, so
    * every seed scans as many catalog objects. */
  private def fixture(name: String, nTables: (Int, Int), hdfsPaths: Int, seed: Long): Fixture = {
    import org.apache.spark.sql.functions._
    val dir = root.resolve(name)
    Gen.deleteTree(dir)
    val wh = dir.resolve("wh")
    val sf = s"${env.data}/sf0.01"
    def h(c: String) = xxhash64(lit(seed), col(c)).as("h")
    def firstBy[A](rows: Seq[A], n: Int)(key: A => Long): Seq[A] = rows.sortBy(key).take(n)
    val parts = WarehouseSim.srcPartitions(spark, sf)
    val files = WarehouseSim.srcFiles(spark, sf)
    val objects = files.groupBy(col("dir").as("tbl")).agg(count(lit(1)).as("n_files"))
      .join(parts.groupBy("tbl").agg(count(lit(1)).as("n_parts")), Seq("tbl"), "left")
    val eligible = WarehouseSim.srcTables(spark, sf).join(objects, "tbl")
      .filter(when(col("partitioned"), col("n_parts")).otherwise(col("n_files")) >= PerTable)
      .select(col("db"), col("tbl"), col("tldt"), col("partitioned"), h("tbl"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4))).toSeq
    val (pt, ut) = eligible.partition(_._4)
    val tRows = (firstBy(pt, nTables._1)(_._5) ++ firstBy(ut, nTables._2)(_._5)).sortBy(_._2)
    val partitioned = tRows.filter(_._4).map(_._2).toSet
    val pRows = parts.filter(col("tbl").isin(partitioned.toSeq: _*))
      .select(col("tbl"), col("part_name"), col("tldt"), h("part_name")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      .groupBy(_._1).values.flatMap(ps => firstBy(ps, PerTable)(_._4)).toSeq
      .map(p => (p._1, p._2, p._3)).sorted
    val kept = pRows.map(p => (p._1, p._2)).toSet
    // a partition's files are its day's line items
    val fRows = files.filter(col("dir").isin(tRows.map(_._2): _*))
      .select(col("dir"), concat(lit("ds="), from_unixtime(col("mtime"), "yyyy-MM-dd")),
        col("rel_path"), col("size"), h("rel_path")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq.groupBy(_._1).toSeq.flatMap { case (tbl, fs) =>
        if (partitioned(tbl)) fs.filter(f => kept((tbl, f._2)))
        else firstBy(fs, PerTable)(_._5)
      }.map(f => (f._1, f._2, partitioned(f._1), f._3, f._4)).sorted
    val dbOf = tRows.map(t => t._2 -> t._1).toMap
    val ts = tRows.map { case (db, tbl, tldt, isPart, _) =>
      TableMeta(db, tbl, s"$db/$tbl", "parquet", Seq(ColumnMeta("key", "string")),
        if (isPart) Seq(ColumnMeta("ds", "string")) else Seq.empty,
        Map(TableMeta.Tldt -> tldt.toString))
    }
    val ps = pRows.map { case (tbl, pn, tldt) =>
      val db = dbOf(tbl)
      PartitionMeta(db, tbl, pn, s"$db/$tbl/$pn", Map(TableMeta.Tldt -> tldt.toString))
    }
    val rnd = new scala.util.Random(seed)
    fRows.foreach { case (tbl, pn, partitioned, rel, size) =>
      val file = rel.substring(rel.indexOf('/') + 1)
      val d = if (partitioned) s"${dbOf(tbl)}/$tbl/$pn" else s"${dbOf(tbl)}/$tbl"
      Gen.writeBytes(wh.resolve(s"$d/$file"), math.max(1L, size / SizeDiv).toInt, rnd.nextLong())
    }
    val (a, b, dest) = (dir.resolve("hdfs-a"), dir.resolve("hdfs-b"), dir.resolve("hdfs-dest"))
    val expected = generateHdfs(rnd, hdfsPaths, a, b, dest)
    Fixture(wh, ts.toSeq, ps.toSeq, a, b, dest, expected)
  }

  private def writeFiles(dir: Path, n: Int, rnd: scala.util.Random): Unit =
    for (f <- 0 until n)
      Gen.writeBytes(dir.resolve(s"part-$f.parquet"), 4096 + rnd.nextInt(24576), rnd.nextLong())

  /** Two overlapping source roots and a stale destination. Returns the
    * (files, bytes) the destination must hold after a sync. */
  private def generateHdfs(rnd: scala.util.Random, paths: Int, hdfsA: Path,
      hdfsB: Path, hdfsDestTemplate: Path): (Long, Long) = {
    val winners = scala.collection.mutable.Map.empty[String, Int]
    for (i <- 0 until paths) {
      val rel = s"d${i % 12}/f$i.dat"
      val inA = i % 3 != 0
      val inB = i % 3 != 1
      val mA = 1700000000000L + rnd.nextInt(1000000) * 1000L
      val mB = mA + (if (rnd.nextBoolean()) 5000L else -5000L)
      val sA = 2048 + rnd.nextInt(8192)
      val sB = sA + 1 + rnd.nextInt(512)
      if (inA) writeAt(hdfsA.resolve(rel), sA, mA, rnd.nextLong())
      if (inB) writeAt(hdfsB.resolve(rel), sB, mB, rnd.nextLong())
      val win = if (inA && inB) (if (mA >= mB) sA else sB) else if (inA) sA else sB
      winners(rel) = win
      // stale destination: half in sync, a sixth with a wrong size, the
      // rest missing
      val r = (i / 3) % 6
      if (r < 3) {
        val from = if (inA && (!inB || mA >= mB)) hdfsA else hdfsB
        Files.createDirectories(hdfsDestTemplate.resolve(rel).getParent)
        Files.copy(from.resolve(rel), hdfsDestTemplate.resolve(rel))
      } else if (r == 3) Gen.writeBytes(hdfsDestTemplate.resolve(rel), win + 7, rnd.nextLong())
    }
    for (i <- 0 until paths / 12)
      Gen.writeBytes(hdfsDestTemplate.resolve(s"d${i % 12}/extra-$i.dat"), 1024, rnd.nextLong())
    (winners.size.toLong, winners.values.map(_.toLong).sum)
  }

  private def writeAt(p: Path, size: Int, mtime: Long, seed: Long): Unit = {
    Gen.writeBytes(p, size, seed)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    ()
  }

  // ---- one cycle ----------------------------------------------------------

  /** Mutable source state of the running cycle. */
  private final class Src(val rootUri: String, val client: JdbcCatalogClient) {
    val tbls = ArrayBuffer.empty[TableMeta]
    val prts = ArrayBuffer.empty[PartitionMeta]
  }

  private def derby(name: String): String = {
    val url = s"jdbc:derby:${root.resolve("derby").resolve(name)};create=true"
    JdbcCatalogClient.initSchema(url)
    dbs = url :: dbs
    url
  }

  private def shutdownDerby(): Unit = {
    dbs.foreach { url =>
      try java.sql.DriverManager.getConnection(
        url.replace(";create=true", ";shutdown=true"))
      catch { case _: java.sql.SQLException => () }
    }
    dbs = Nil
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  private final case class Cycle(fx: Fixture, cfg: BatchConfig, src: Src, hdfsDest: Path)

  /** Untimed: fresh source copy, empty destination, stale HDFS destination. */
  private def newCycle(fx: Fixture): Cycle = {
    shutdownDerby()
    val prev = root.resolve(s"c${cycle - 1}")
    Gen.deleteTree(prev)
    Gen.deleteTree(root.resolve("derby"))
    val c = root.resolve(s"c$cycle")
    cycle += 1
    val srcDir = c.resolve("src")
    copyTree(fx.wh, srcDir)
    val srcUrl = derby(s"src${cycle}")
    val destUrl = derby(s"dest${cycle}")
    val src = new Src(env.uri(srcDir), new JdbcCatalogClient(srcUrl))
    fx.tables.foreach { t =>
      val m = t.copy(location = s"${src.rootUri}/${t.location}")
      src.client.createTable(m); src.tbls += m
    }
    fx.parts.foreach { p =>
      val m = p.copy(location = s"${src.rootUri}/${p.location}")
      src.client.addPartition(m); src.prts += m
    }
    val destDir = c.resolve("dest")
    Files.createDirectories(destDir)
    val hdfsDest = c.resolve("hdfs-dest")
    copyTree(fx.hdfsDest, hdfsDest)
    val cfg = BatchConfig(JdbcCatalogConnector(srcUrl), JdbcCatalogConnector(destUrl),
      src.rootUri, env.uri(destDir), env.uri(c.resolve("plan")),
      copyParallelism = env.cores)
    Cycle(fx, cfg, src, hdfsDest)
  }

  /** Untimed seeded mutation of six source objects; the same for every
    * cycle of a seed. */
  private def mutate(src: Src, round: Int): Unit = {
    val rnd = new scala.util.Random(env.seed * 1000003L + round)
    def files(loc: String): Seq[Path] = {
      val d = java.nio.file.Paths.get(java.net.URI.create(loc))
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }
    def rewrite(loc: String): Unit = {
      val f = files(loc).head
      Gen.writeBytes(f, (Files.size(f) + 1 + rnd.nextInt(4096)).toInt, rnd.nextLong())
    }
    def bump(params: Map[String, String]) =
      params.updated(TableMeta.Tldt, (params(TableMeta.Tldt).toLong + 1000).toString)
    val unpart = src.tbls.filter(!_.isPartitioned)
    val parted = src.tbls.filter(_.isPartitioned)
    // TLDT bump + rewritten file on a table and on a partition
    val t = unpart(rnd.nextInt(unpart.size))
    rewrite(t.location)
    val t2 = t.copy(parameters = bump(t.parameters))
    src.client.alterTable(t.db, t.table, t2)
    src.tbls(src.tbls.indexOf(t)) = t2
    val p = src.prts(rnd.nextInt(src.prts.size))
    rewrite(p.location)
    val p2 = p.copy(parameters = bump(p.parameters))
    src.client.alterPartition(p2)
    src.prts(src.prts.indexOf(p)) = p2
    // a dropped partition and a new one with as many files
    val dp = src.prts.filterNot(_ == p2)(rnd.nextInt(src.prts.size - 1))
    val nFiles = files(dp.location).size
    src.client.dropPartition(dp.db, dp.table, dp.partName)
    Gen.deleteTree(java.nio.file.Paths.get(java.net.URI.create(dp.location)))
    src.prts -= dp
    val pt = parted(rnd.nextInt(parted.size))
    val pn = s"ds=2030-r$round"
    val np = PartitionMeta(pt.db, pt.table, pn, s"${pt.location}/$pn",
      Map(TableMeta.Tldt -> (2000000L + round).toString))
    writeFiles(java.nio.file.Paths.get(java.net.URI.create(np.location)), nFiles, rnd)
    src.client.addPartition(np)
    src.prts += np
    // a dropped table and a new one with as many files
    val dt = unpart.filterNot(_ == t)(rnd.nextInt(unpart.size - 1))
    val tFiles = files(dt.location).size
    src.client.dropTable(dt.db, dt.table)
    Gen.deleteTree(java.nio.file.Paths.get(java.net.URI.create(dt.location)))
    src.tbls -= dt
    val nt = TableMeta(s"db_${round % 4}", s"t_new$round",
      s"${src.rootUri}/db_${round % 4}/t_new$round", "parquet",
      Seq(ColumnMeta("key", "string")), Seq.empty,
      Map(TableMeta.Tldt -> (3000000L + round).toString))
    writeFiles(java.nio.file.Paths.get(java.net.URI.create(nt.location)), tFiles, rnd)
    src.client.createTable(nt)
    src.tbls += nt
  }

  /** One replication round; returns (actions, files copied). */
  private def round(cfg: BatchConfig, kind: String): (Long, Long) = {
    val actions = Trace.span(s"batch.$kind.plan")(BatchReplication.plan(spark, cfg).count())
    val copied = Trace.span(s"batch.$kind.copy")(BatchReplication.copyData(spark, cfg))
    val stats = Trace.span(s"batch.$kind.commit")(BatchReplication.commit(spark, cfg))
    if (stats.commitFailures > 0)
      failures += s"$kind round: ${stats.commitFailures} commit failures"
    (actions, copied)
  }

  /** Untimed: a full round and a multi-root sync converge a fresh cycle. */
  private def converge(c: Cycle): (Long, Long) = {
    def timed[A](kind: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      if (Trace.enabled) roundMs.getOrElseUpdate(kind, ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      a
    }
    val (actions, copied) = timed("full")(round(c.cfg, "full"))
    val (_, st) = timed("hdfs")(Trace.span("hdfs.sync")(HdfsSync.run(spark,
      Seq(env.uri(c.fx.hdfsA), env.uri(c.fx.hdfsB)), env.uri(c.hdfsDest),
      parallelism = env.cores)))
    (actions, copied + st.get.added + st.get.updated)
  }

  /** One op: an untimed seeded mutation, then a timed delta round. */
  private def deltaRound(c: Cycle, m: Measure): Unit = {
    mutate(c.src, rounds)
    rounds += 1
    val t0 = System.nanoTime()
    Trace.op("op.delta") {
      try {
        val (_, f) = round(c.cfg, "delta")
        if (Trace.enabled) deltaCopied += f
      } catch { case e: Exception => m.failed += 1; failures += s"delta round: $e" }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    m.record(ms)
    if (Trace.enabled) roundMs.getOrElseUpdate("delta", ArrayBuffer.empty) += ms
  }

  /** Correctness of one cycle; failures are collected for `check`. */
  private def gates(c: Cycle): Unit = {
    val replan = BatchReplication.plan(spark, c.cfg).count()
    if (replan != 0) failures += s"re-plan after convergence has $replan actions"
    val objs = c.src.tbls.filter(!_.isPartitioned).map(_.location) ++ c.src.prts.map(_.location)
    def stat(loc: String): (Long, Long) = {
      val d = java.nio.file.Paths.get(java.net.URI.create(loc))
      if (!Files.isDirectory(d)) (-1L, -1L)
      else {
        val s = Files.list(d)
        try {
          val fs = s.iterator().asScala
            .filter(p => Files.isRegularFile(p) && !FsOps.isHidden(p.getFileName.toString)).toSeq
          (fs.size.toLong, fs.map(Files.size).sum)
        } finally s.close()
      }
    }
    val bad = objs.filter(l => stat(l) != stat(l.replace(c.cfg.srcFsRoot, c.cfg.destFsRoot)))
    if (bad.nonEmpty) failures += s"${bad.size} dest objects differ from src, first ${bad.head}"
    val rnd = new scala.util.Random(env.seed + 17)
    (0 until 3).map(_ => objs(rnd.nextInt(objs.size))).foreach { l =>
      if (!CopyExec.equalDirs(spark, l, l.replace(c.cfg.srcFsRoot, c.cfg.destFsRoot)))
        failures += s"equalDirs fails on $l"
    }
    val again = HdfsSync.plan(spark, Seq(env.uri(c.fx.hdfsA), env.uri(c.fx.hdfsB)), env.uri(c.hdfsDest),
      parallelism = env.cores).count()
    if (again != 0) failures += s"second HdfsSync.plan has $again actions"
    val (n, b, _) = Gen.treeDigest(c.hdfsDest)
    if ((n, b) != c.fx.hdfsExpected)
      failures += s"hdfs dest holds ($n, $b), expected ${c.fx.hdfsExpected}"
  }

  /** The full round and sync of the first cycle: the code paths, plans
    * and catalog calls the delta rounds use, run cold once. */
  def warmup(): Unit = {
    cur = newCycle(main)
    converge(cur)
    for (_ <- 0 until WarmupRounds) deltaRound(cur, new Measure)
  }

  def measure(deadlineNs: Long, m: Measure): Unit = {
    var n = 0
    while (n < MinRounds || System.nanoTime() < deadlineNs) { deltaRound(cur, m); n += 1 }
    gates(cur)
  }

  /** Listing, sync planning and a full round with its sync on a fresh
    * cycle, traced after the delta rounds: the warehouse scan a delta
    * round pays (src and dest), the multi-root compare on its own, and the
    * copy-dominated full round. */
  override def probes(m: Measure): Unit = {
    // the two steps of `BatchReplication.plan` on their own: the four
    // catalog snapshots, materialised, then the diff over them
    import spark.implicits._
    for (_ <- 0 until ProbeReps) {
      def mat[A: org.apache.spark.sql.Encoder](ds: org.apache.spark.sql.Dataset[A]) =
        spark.createDataset(ds.collect().toSeq)
      val (st, sp, dt, dp) = Trace.span("catalog.snapshot") {
        (mat(CatalogSnapshot.tables(spark, cur.cfg.srcConnector)),
          mat(CatalogSnapshot.partitions(spark, cur.cfg.srcConnector)),
          mat(CatalogSnapshot.tables(spark, cur.cfg.destConnector)),
          mat(CatalogSnapshot.partitions(spark, cur.cfg.destConnector)))
      }
      Trace.span("planner.diff") {
        val dir = s"${cur.cfg.planDir}-probe"
        DiffPlanner.plan((st, sp), (dt, dp)).write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir).as[Action].count()
      }
    }
    filesListed = Trace.span("fs.list") {
      FsOps.listFiles(spark, cur.src.rootUri, env.cores).count() +
        FsOps.listFiles(spark, cur.cfg.destFsRoot, env.cores).count()
    }
    val stale = cur.hdfsDest.resolveSibling("hdfs-stale")
    copyTree(cur.fx.hdfsDest, stale)
    Trace.span("hdfs.plan")(HdfsSync.plan(spark, Seq(env.uri(cur.fx.hdfsA),
      env.uri(cur.fx.hdfsB)), env.uri(stale), parallelism = env.cores).count())
    cur = newCycle(main)
    fullRound = converge(cur)
    gates(cur)
    // the incremental server on a warehouse of its own: its layers are
    // measured here rather than by a workload of their own. Objects the
    // burst leaves unconverged count as failed, not as a wrong output.
    println(s"incremental_digest ${incremental.generate()}")
    incremental.warmup()
    incremental.run(incrementalOps)
    val (compared, unconverged) = incremental.convergence
    m.attempted += incrementalOps.attempted + compared
    m.failed += incrementalOps.failed + unconverged
    failures ++= incremental.failures
  }

  def check(): Unit = {
    shutdownDerby()
    if (failures.nonEmpty) throw new IllegalStateException(failures.mkString("; "))
  }

  def layers(sink: Sink, m: Measure): Unit = {
    incremental.layers(sink, incrementalOps)
    def med(name: String) = Stats.median(Trace.durationsMs(name)) / 1000.0
    sink.set("batch.full_s", Stats.median(roundMs.getOrElse("full", Nil).toSeq) / 1000.0)
    sink.set("batch.delta_s", Stats.median(roundMs.getOrElse("delta", Nil).toSeq) / 1000.0)
    sink.set("hdfs.sync_s", Stats.median(roundMs.getOrElse("hdfs", Nil).toSeq) / 1000.0)
    Seq("full.plan", "full.copy", "full.commit", "delta.plan", "delta.copy", "delta.commit")
      .foreach(k => sink.set(s"batch.${k}_s", med(s"batch.$k")))
    // catalog and planner probes on the converged warehouse of the rounds
    sink.set("catalog.snapshot_s", med("catalog.snapshot"))
    sink.set("planner.diff_s", med("planner.diff"))
    sink.set("fs.list_s", med("fs.list"))
    sink.set("hdfs.plan_s", med("hdfs.plan"))
    sink.set("batch.actions", fullRound._1.toDouble)
    sink.set("fs.files_copied", fullRound._2.toDouble)
    sink.set("fs.files_listed", filesListed.toDouble)
    sink.set("fs.listed_per_copied",
      filesListed / math.max(1.0, Stats.median(deltaCopied.map(_.toDouble).toSeq)))
    sink.set("trace.uncovered_frac", uncoveredFrac())
  }
}

object BatchWorkload {
  val PartitionedTables = 8
  val PlainTables = 16
  val PerTable = 12
  val SizeDiv = 256L
  val HdfsPaths = 96
  val MinRounds = 3
  /** Untimed delta rounds before the first timed one: op times keep
    * falling over the first several rounds of a JVM. */
  val WarmupRounds = 4
  val ProbeReps = 2
}

object Coverage {
  /** Share of op wall time that no direct layer span covers. */
  def uncoveredFrac(): Double = {
    val ops = Trace.spans.filter(_.name.startsWith("op."))
    val total = ops.map(_.ms).sum
    if (total == 0) 0.0
    else ops.map(o => Trace.uncoveredMs(o.startNs, o.endNs, Set(o.id))).sum / total
  }
}
