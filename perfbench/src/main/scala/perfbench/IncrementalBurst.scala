package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import scala.jdk.CollectionConverters._

import graft.catalog.{CatalogClient, JdbcCatalogClient, JdbcCatalogConnector}
import graft.incremental._
import graft.model._

/**
 * An incremental audit burst, run in `batch_replication`'s traced half.
 * The backlog comes from a seeded mutation program run against a Derby
 * source catalog and its files through `AuditLoggingCatalog` (creates,
 * partition outputs, property changes, insert overwrites, renames, drops).
 * A burst replays the whole program on a fresh source first, so the
 * source has moved on past every entry, then feeds the backlog in pages
 * of `PageSize` entries to a fresh server, one `processBatch` call after
 * the previous returns (the `pollJdbc` shape). One op is one page.
 *
 * The traced burst calls `processBatch`'s public steps in its order
 * (`planJobs`, `state.append`, `LockExecutor.execute(runJob)`,
 * `state.append`, `watermark.set`, periodic `compact`) so each gets a
 * span, and must produce the same job statuses as the untraced warm-up
 * burst on the pages both ran. After it, the destination catalog is
 * compared with the source's, object by object.
 */
final class IncrementalBurst(env: Env) {
  import IncrementalBurst._
  private val spark = env.spark
  private val root = env.dir("incremental")
  private var gen = 0
  private var burst = 0
  private var srcUrl = ""
  private val srcDir = root.resolve("src")
  private val srcRoot = env.uri(srcDir)
  private var program = Seq.empty[CatalogClient => Unit]
  private var entries = Seq.empty[AuditLogEntry]
  val failures = ArrayBuffer.empty[String]
  private var statuses = Option.empty[Seq[Seq[String]]]
  private val jobMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private val executeMs = ArrayBuffer.empty[Double]
  private val jobsPerPage = ArrayBuffer.empty[Double]
  private var statusCounts = Map.empty[String, Int]
  /** (objects compared, objects that differ) after the traced burst. */
  var convergence = (0L, 0L)

  private def derby(name: String): String = {
    val url = s"jdbc:derby:${root.resolve("derby").resolve(name)};create=true"
    JdbcCatalogClient.initSchema(url)
    url
  }

  def generate(): String = {
    gen += 1
    val dir = root.resolve(s"gen$gen")
    Gen.deleteTree(root.resolve(s"gen${gen - 1}"))
    Gen.deleteTree(srcDir)
    program = backlog()
    val auditDir = dir.resolve("audit")
    val hooked = new AuditLoggingCatalog(new JdbcCatalogClient(derby(s"gen$gen")),
      auditDir.toString)
    program.foreach(_(hooked))
    entries = readEntries(auditDir)
    require(entries.size == program.size, s"${program.size} ops logged ${entries.size} entries")
    val ops = entries.groupBy(_.commandType).view.mapValues(_.size).toSeq.sorted
    val body = entries.map(e => (e.id, e.commandType, e.outputTables, e.outputPartitions,
      e.renameFrom)).hashCode
    val (n, b, d) = Gen.treeDigest(srcDir)
    s"entries=${entries.size} pages=${pagesOf(entries).size} " +
      s"ops=${ops.map { case (k, v) => s"$k:$v" }.mkString(",")} files=$n bytes=$b " +
      s"fs=$d entries_hash=${Integer.toHexString(body)}"
  }

  /** The audit entries the hook wrote, one JSON file each. */
  private def readEntries(auditDir: Path): Seq[AuditLogEntry] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ls = Files.list(auditDir)
    val files = try ls.iterator().asScala.toSeq.sortBy(_.toString) finally ls.close()
    files.map { f =>
      val n = mapper.readTree(f.toFile)
      def strs(k: String) = n.get(k).elements().asScala.map(_.asText()).toSeq
      AuditLogEntry(n.get("id").asLong(),
        java.sql.Timestamp.valueOf(n.get("createTime").asText().replace('T', ' ')),
        n.get("commandType").asText(), n.get("command").asText(),
        strs("outputTables"), strs("outputPartitions"),
        Option(n.get("renameFrom")).map(_.asText()), strs("referenceTables"),
        n.get("objects").elements().asScala.map(o => AuditObject(o.get("category").asText(),
          o.get("objectType").asText(), o.get("name").asText(),
          o.get("serialized").asText())).toSeq)
    }.sortBy(_.id)
  }

  /** The seeded mutation program, one audit entry per op: three table
    * creates, then triples of two partition outputs (QUERY) around one op
    * from a fixed cycle (create, table property change, insert overwrite,
    * rename, partition drop, table drop), so the op mix is the same
    * whatever the seed. Ops write their files under `srcDir`; replaying
    * the program rebuilds the same source. */
  private def backlog(): Seq[CatalogClient => Unit] = {
    val rnd = new scala.util.Random(env.seed)
    val prog = ArrayBuffer.empty[CatalogClient => Unit]
    val tables = ArrayBuffer.empty[TableMeta]
    val parts = ArrayBuffer.empty[PartitionMeta]
    def files(loc: String, n: Int): () => Unit = {
      val d = java.nio.file.Paths.get(java.net.URI.create(loc))
      val specs = (0 until n).map(f => (f, 2048 + rnd.nextInt(8192), rnd.nextLong()))
      () => specs.foreach { case (f, size, s) =>
        Gen.writeBytes(d.resolve(s"part-$f.parquet"), size, s) }
    }
    def tldt(): Map[String, String] =
      Map(TableMeta.Tldt -> (1000000L + prog.size).toString)
    def parted = tables.filter(_.isPartitioned)
    def unpart = tables.filter(!_.isPartitioned)
    def pick[A](xs: collection.Seq[A]): A = xs(rnd.nextInt(xs.size))
    def create(partitioned: Boolean): Unit = {
      val i = prog.size
      val db = s"db_${i % 3}"
      val t = TableMeta(db, s"t_$i", s"$srcRoot/$db/t_$i", "parquet",
        Seq(ColumnMeta("key", "string")),
        if (partitioned) Seq(ColumnMeta("ds", "string")) else Seq.empty, tldt())
      val write = if (partitioned) () => Files.createDirectories(
        java.nio.file.Paths.get(java.net.URI.create(t.location))): Unit
        else files(t.location, 2 + rnd.nextInt(2))
      prog += { c => write(); c.createTable(t) }
      tables += t
    }
    def output(): Unit = {
      val t = pick(parted)
      val pn = s"ds=2024-02-${prog.size}"
      val p = PartitionMeta(t.db, t.table, pn, s"${t.location}/$pn", tldt())
      val write = files(p.location, 1 + rnd.nextInt(2))
      prog += { c => write(); c.addPartition(p) }
      parts += p
    }
    def other(k: Int): Unit = k % 6 match {
      case 0 => create(rnd.nextBoolean())
      case 1 if unpart.nonEmpty =>
        // table property change with rewritten data
        val t = pick(unpart)
        val t2 = t.copy(parameters = tldt())
        val write = files(t2.location, 1)
        prog += { c => write(); c.alterTable(t.db, t.table, t2) }
        tables(tables.indexOf(t)) = t2
      case 2 if parts.nonEmpty =>
        // insert overwrite of a partition: a rewritten file
        val k = rnd.nextInt(parts.size)
        val p = parts(k).copy(parameters = tldt())
        val write = files(p.location, 1)
        prog += { c => write(); c.alterPartition(p) }
        parts(k) = p
      case 3 =>
        val t = pick(tables)
        val t2 = t.copy(table = s"${t.table}_r${prog.size}", parameters = tldt())
        prog += { c => c.alterTable(t.db, t.table, t2) }
        tables(tables.indexOf(t)) = t2
        parts.indices.filter(k => parts(k).db == t.db && parts(k).table == t.table)
          .foreach(k => parts(k) = parts(k).copy(table = t2.table))
      case 4 if parts.nonEmpty =>
        val p = pick(parts)
        prog += { c => c.dropPartition(p.db, p.table, p.partName) }
        parts -= p
      case 5 if unpart.nonEmpty =>
        val t = pick(unpart)
        prog += { c => c.dropTable(t.db, t.table) }
        tables -= t
      case _ => create(false)
    }
    create(true); create(true); create(false)
    var page = 1
    while (prog.size < Pages * PageSize) {
      output(); other(page); output()
      page += 1
    }
    prog.take(Pages * PageSize).toSeq
  }

  private def pagesOf(es: Seq[AuditLogEntry]): Seq[Seq[AuditLogEntry]] =
    es.grouped(PageSize).toSeq

  /** A fresh source with the whole program applied, and a fresh server
    * over an empty destination. */
  private def newServer(): IncrementalServer = {
    burst += 1
    val b = root.resolve(s"burst$burst")
    Gen.deleteTree(root.resolve(s"burst${burst - 1}"))
    Gen.deleteTree(srcDir)
    srcUrl = derby(s"src$burst")
    val src = new JdbcCatalogClient(srcUrl)
    program.foreach(_(src))
    val destUrl = derby(s"dest$burst")
    new IncrementalServer(spark, IncrementalConfig(
      JdbcCatalogConnector(srcUrl), JdbcCatalogConnector(destUrl),
      srcRoot, env.uri(b.resolve("dest")), env.uri(b.resolve("state")) + "/jobs",
      env.uri(b.resolve("state")) + "/watermark", workers = env.cores,
      compactEveryBatches = CompactEvery))
  }

  /** `processBatch` split into its public steps, one span each. */
  private def tracedPage(server: IncrementalServer, page: Seq[AuditLogEntry],
      pageNo: Int): Seq[(JobState, String)] = {
    import spark.implicits._
    val jobs = Trace.span("incremental.plan_jobs") {
      JobFactory.planJobs(spark, spark.createDataset(page), server.cfg.filters)
        .collect().toSeq.sortBy(_.id)
    }
    if (jobs.isEmpty) return Seq.empty
    Trace.span("incremental.state_append")(server.state.append(jobs))
    val e0 = System.nanoTime()
    val rs = Trace.span("incremental.execute") {
      LockExecutor.execute(jobs, server.cfg.workers, server.cfg.drainTimeoutMillis) { j =>
        val t0 = System.nanoTime()
        try Trace.span("tasks.job")(server.runJob(j))
        finally jobMs.add((System.nanoTime() - t0) / 1e6)
      }
    }
    executeMs += (System.nanoTime() - e0) / 1e6
    Trace.span("incremental.state_append")(server.state.append(rs.map { case (j, s) =>
      j.copy(status = if (s.startsWith("FAILED")) JobStatus.Failed else s)
    }))
    Trace.span("incremental.watermark")(server.watermark.set(jobs.map(_.id).max))
    if (pageNo % CompactEvery == 0)
      Trace.span("incremental.compact")(server.state.compact())
    rs
  }

  /** One burst over the first `maxPages` pages: traced, one op per page,
    * when `m` is given; `processBatch` otherwise. */
  private def runBurst(m: Option[Measure], maxPages: Int): IncrementalServer = {
    import spark.implicits._
    val server = newServer()
    val results = ArrayBuffer.empty[Seq[(JobState, String)]]
    pagesOf(entries).take(maxPages).zipWithIndex.foreach { case (page, i) =>
      def process(): Seq[(JobState, String)] =
        try {
          if (m.isDefined) tracedPage(server, page, i + 1)
          else server.processBatch(spark.createDataset(page))
        } catch {
          case e: Exception =>
            m.foreach(_.failed += 1); failures += s"page ${i + 1}: $e"; Seq.empty
        }
      val t0 = System.nanoTime()
      val rs = if (m.isDefined) Trace.op("op.page")(process())._1 else process()
      m.foreach(_.record((System.nanoTime() - t0) / 1e6))
      results += rs
    }
    val all = results.flatten.toSeq
    val failed = all.count(_._2.startsWith("FAILED"))
    if (failed > 0) failures += s"$failed FAILED jobs, first ${all.find(_._2.startsWith("FAILED"))}"
    val st = results.toSeq.map(_.map { case (j, s) =>
      s"${j.id}|${j.operation}|${j.db}|${j.table}|${j.partitions.mkString(",")}|$s" }.sorted)
    statuses match {
      case None => statuses = Some(st)
      case Some(prev) =>
        val n = math.min(prev.size, st.size)
        val bad = (0 until n).filter(k => prev(k) != st(k))
        if (bad.nonEmpty) failures += s"job statuses differ between bursts on pages " +
          s"${bad.map(_ + 1).mkString(",")}: ${prev(bad.head).diff(st(bad.head))} vs " +
          s"${st(bad.head).diff(prev(bad.head))}"
    }
    if (m.isDefined) {
      jobsPerPage ++= results.map(_.size.toDouble)
      statusCounts = all.groupBy(_._2).view.mapValues(_.size).toMap
    }
    server
  }

  /** Tables, partition names and TLDTs of a catalog, one key per object. */
  private def objects(c: CatalogClient): Map[String, String] =
    c.listDatabases().flatMap(db => c.listTables(db).flatMap { t =>
      c.getTable(db, t).toSeq.flatMap { m =>
        (s"$db.$t" -> m.parameters.getOrElse(TableMeta.Tldt, "")) +:
          c.listPartitionNames(db, t).map(p => s"$db.$t/$p" ->
            c.getPartition(db, t, p).flatMap(_.parameters.get(TableMeta.Tldt)).getOrElse(""))
      }
    }).toMap

  /** Compares the destination with the source after the whole backlog. */
  private def converge(server: IncrementalServer): Unit = {
    val src = objects(server.cfg.srcConnector.connect())
    val dest = objects(server.cfg.destConnector.connect())
    val keys = (src.keySet ++ dest.keySet).toSeq.sorted
    val diff = keys.filter(k => src.get(k) != dest.get(k))
    convergence = (keys.size.toLong, diff.size.toLong)
    println(s"incremental_convergence objects=${keys.size} unconverged=${diff.size}" +
      diff.take(4).map(k => s" $k:src=${src.get(k)},dest=${dest.get(k)}").mkString)
  }

  /** An untraced burst over the first `WarmupPages` pages: the job
    * statuses the traced burst must repeat on those pages. */
  def warmup(): Unit = runBurst(None, WarmupPages)

  /** The traced burst over the whole backlog, then the convergence
    * comparison. */
  def run(m: Measure): Unit = converge(runBurst(Some(m), Int.MaxValue))

  def layers(sink: Sink, m: Measure): Unit = {
    val pages = math.max(1, m.opMs.size).toDouble
    def perPage(n: String) = Trace.totalMs(n) / pages
    sink.set("incremental.page_p50_ms", Stats.quantile(m.opMs.toSeq, 0.5))
    sink.set("incremental.page_p90_ms", Stats.quantile(m.opMs.toSeq, 0.9))
    sink.set("incremental.entries_per_s", entries.size / math.max(1e-9, m.opMs.sum / 1000))
    sink.set("incremental.plan_jobs_ms", perPage("incremental.plan_jobs"))
    sink.set("incremental.state_append_ms", perPage("incremental.state_append"))
    sink.set("incremental.execute_ms", perPage("incremental.execute"))
    sink.set("incremental.compact_ms", Stats.median(Trace.durationsMs("incremental.compact")))
    sink.set("incremental.jobs", jobsPerPage.sum)
    Seq(JobStatus.Successful, JobStatus.NotCompletable, JobStatus.DestNewer, JobStatus.Failed)
      .foreach(st => sink.set(s"incremental.${st.toLowerCase}", statusCounts.getOrElse(st, 0).toDouble))
    sink.set("incremental.jobs_per_entry", jobsPerPage.sum / math.max(1, entries.size))
    sink.set("incremental.unconverged", convergence._2.toDouble)
    val jobs = scala.jdk.CollectionConverters.IterableHasAsScala(jobMs).asScala.toSeq
    sink.set("incremental.worker_idle_frac",
      1 - jobs.sum / math.max(1e-9, executeMs.sum * env.cores))
    sink.set("tasks.job_p50_ms", Stats.quantile(jobs, 0.5))
    sink.set("tasks.job_p90_ms", Stats.quantile(jobs, 0.9))
  }
}

object IncrementalBurst {
  val PageSize = 4
  val Pages = 16
  val CompactEvery = 5
  val WarmupPages = 2
}
