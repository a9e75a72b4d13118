package graftbench

import graft.SparkEntry
import graft.ops.{Dedup, IvfIndex, ShingleIndex, Similarity, StagedRefresh}
import graft.sources.polygonscan.HttpPageSource
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload's op hands back: result rows, and rows it landed
  * (loaded, streamed in or appended) for `rows_per_s`. */
final case class OpOutcome(rows: Long, landed: Long)

/** One timed call into the program. */
final case class Op(name: String, family: String, run: String => OpOutcome)

final case class Ctx(spark: SparkSession, seed: Long, cores: Int,
    dataDir: String, work: Path, spans: Spans, collector: Collector)

trait Workload {
  def ops: Seq[Op]
  /** Layer probes run after a traced pass, outside the pass time. */
  def probe(): Map[String, Double] = Map.empty
  /** Plan-shape counts of the pass just run ([[Layers.Counts]]), read
    * after the pass, outside its time. */
  def counts(): Map[String, Double] = Map.empty
  /** Heap the harness itself holds, taken out of `live_heap_mb`. */
  def harnessMb: Double = 0.0
  /** What the run record carries for the correctness check. */
  def checks: Map[String, Any]
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "weekly_refresh" => new WeeklyRefresh(ctx)
    case "warehouse_queries" => new WarehouseQueries(ctx)
    case "incremental_upkeep" => new IncrementalUpkeep(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Run a declared entry and force it through the noop sink; the
    * observed row count is the op's result size. The entry's DataFrame
    * is analyzed when it is built, before any action, so its analysis
    * time goes to the collector from here. */
  def runEntry(ctx: Ctx, name: String): Long = {
    val obs = new Observation()
    val df = SparkEntry.queries(name)(ctx.spark, ctx.dataDir)
    ctx.collector.analyzed(df.queryExecution)
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** The entry's result as one parquet file, for the oracle check. */
  def dumpEntry(spark: SparkSession, name: String, dir: String, out: Path): Unit =
    SparkEntry.queries(name)(spark, dir).coalesce(1)
      .write.mode("overwrite").parquet(out.resolve(name).toString)

  /** Where the checked results are and the oracle SQL they answer to. */
  def entryChecks(dump: Path, entries: Seq[String]): Map[String, Any] = Map(
    "dump_dir" -> dump.toString, "entries" -> entries,
    "oracle" -> entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  def treeBytes(p: Path): (Int, Long) = {
    if (!Files.exists(p)) return (0, 0L)
    val walk = Files.walk(p)
    try {
      val files = walk.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
      (files.length, files.map(f => Files.size(f)).sum)
    } finally walk.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** The reference's weekly job at full fidelity: 29 wallets, pageSize
  * 10000, served by [[PolygonscanStub]] with a 100 ms round trip per
  * page; connector scan → q45 transform → stage-and-swap refresh →
  * per-token aggregate over the live generation. */
final class WeeklyRefresh(ctx: Ctx) extends Workload {
  import Workload._
  import ctx.spark

  val PageSize = 10000
  val DelayMs = 100
  /** Wallet ids move by whole multiples of 30000 with the seed, which
    * keeps every wallet's row count (`(w%3+1)*pageSize + w*7919 %
    * pageSize`) and so the work per pass identical across seeds. Ids
    * stay below 271,189: `FixturePageSource` computes `w*7919` in 32
    * bits, which overflows above that. */
  val walletBase: Long = 30000L * (ctx.seed % 10)
  val wallets: Seq[String] = (0 until 29).map(i => s"0xw${walletBase + i}")

  val stub = new PolygonscanStub(wallets, PageSize, DelayMs, ctx.cores)
  private val root = ctx.work.resolve("weekly").resolve("wallet_txs").toString
  graft.functions.WeiToToken.register(spark)

  private def source: DataFrame = spark.read.format("polygonscan")
    .option("wallets", wallets.mkString(","))
    .option("pageSize", PageSize.toString)
    .option("source", "http")
    .option("baseUrl", stub.baseUrl)
    .option("apikey", "bench")
    .option("mode", "failfast")
    .load()

  /** The q45 transform: wei rescale, UTC time cast, 11 columns. */
  private def transform(raw: DataFrame): DataFrame = raw.select(
    col("wallet_address"), col("hash").as("tx_hash"), col("block_number"),
    col("time_stamp").cast("timestamp").as("tx_time"),
    col("from_address"), col("to_address"),
    col("contract_address").as("token_contract"), col("token_name"),
    col("token_symbol"), col("token_decimal"),
    expr("wei_to_token(CAST(value AS BIGINT), token_decimal)").as("quantity"))

  private def perToken(df: DataFrame): Array[Row] = df.groupBy("token_symbol")
    .agg(count(lit(1)).as("rows"), sum("block_number").as("sum_block"),
      sum(col("quantity")).as("sum_qty"),
      min(col("tx_time").cast("long")).as("min_ts"),
      max(col("tx_time").cast("long")).as("max_ts"),
      countDistinct("wallet_address").as("wallets"))
    .orderBy("token_symbol").collect()

  private val aggs = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
  private val generations = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var last: Map[String, Double] = Map.empty
  private var lastStub: StubStats = _

  private def job(id: String): OpOutcome = {
    stub.drain()
    var staged, swapped = 0L
    val t0 = System.nanoTime()
    ctx.spans("refresh", id) {
      StagedRefresh.refresh(transform(source), root, {
        case "staged" => staged = System.nanoTime()
        case "swapped" => swapped = System.nanoTime()
        case _ =>
      })
    }
    val t1 = System.nanoTime()
    lastStub = stub.drain()
    val (agg, readS) = ctx.spans.timed("readback", id) {
      perToken(StagedRefresh.readCurrent(spark, root))
    }
    aggs += agg.toSeq.map(_.toSeq)
    val gens = new java.io.File(root).list().count(_.startsWith("gen-"))
    generations += gens
    val landed = agg.map(_.getLong(1)).sum
    last = Map("load.stage_s" -> (staged - t0) / 1e9,
      "load.swap_s" -> (swapped - staged) / 1e9,
      "load.gc_s" -> (t1 - swapped) / 1e9,
      "load.generations" -> gens.toDouble,
      "readback.s" -> readS, "readback.rows" -> landed.toDouble)
    OpOutcome(agg.length.toLong, landed)
  }

  // warm-up: the jobs leave two live generations, so every timed job
  // replaces one and keeps its predecessor; the JIT is still compiling
  // the first job's paths during the second, and with two warm-up jobs
  // the compile time left in the timed jobs set most of cpu_s's spread
  job("warmup"); job("warmup"); job("warmup")
  aggs.clear(); generations.clear()

  val ops: Seq[Op] = Seq(Op("weekly_job", "load", job))

  override def harnessMb: Double = stub.residentBytes / 1048576.0

  override def counts(): Map[String, Double] = Map(
    "connector.pages" -> lastStub.pages.toDouble,
    "load.files" -> treeBytes(java.nio.file.Paths.get(root,
      StagedRefresh.currentGen(spark, root).get))._1.toDouble)

  private var probeSeq = 0

  override def probe(): Map[String, Double] = {
    probeSeq += 1
    val op = s"probe$probeSeq"
    def secs(name: String)(body: => Unit): Double = ctx.spans.timed(name, op)(body)._2
    val scanS = secs("connector.scan")(source.write.format("noop").mode("overwrite").save())
    val scanTransformS = secs("scan+transform")(
      transform(source).write.format("noop").mode("overwrite").save())
    stub.drain()
    val client = HttpPageSource(stub.baseUrl, "bench")
    val pageMs = (0 until 8).map { i =>
      1e3 * secs("connector.fetch")(client.fetch(wallets(i % wallets.size), 0L,
        PolygonscanStub.MaxBlock, 1 + i / wallets.size, PageSize))
    }
    stub.drain()
    val gen = StagedRefresh.currentGen(spark, root).get
    val (files, bytes) = treeBytes(java.nio.file.Paths.get(root, gen))
    val st = lastStub
    val rows = last("readback.rows")
    last ++ Map(
      "connector.requests" -> st.requests.toDouble,
      "connector.pages" -> st.pages.toDouble,
      "connector.retries" -> st.retries.toDouble,
      "connector.served_mb" -> st.bytes / 1048576.0,
      "connector.scan_s" -> scanS,
      "connector.page_p50_ms" -> median(pageMs),
      "stub.inflight_max" -> st.inflightMax.toDouble,
      "stub.service_p50_ms" -> median(st.serviceMs),
      "stub.delay_s" -> st.requests * DelayMs / 1e3,
      "stub.late_ms" -> (if (st.lateMs.isEmpty) 0.0 else st.lateMs.sum / st.lateMs.size),
      "stub.resident_mb" -> stub.residentBytes / 1048576.0,
      "transform.s" -> (scanTransformS - scanS),
      "load.write_s" -> (last("load.stage_s") - scanTransformS),
      "load.files" -> files.toDouble,
      "load.mb" -> bytes / 1048576.0,
      "load.bytes_per_row" -> (if (rows > 0) bytes / rows else 0.0))
  }

  def checks: Map[String, Any] = Map(
    "wallet_base" -> walletBase, "wallets" -> wallets.size,
    "page_size" -> PageSize, "per_token" -> aggs.toList,
    "generations" -> generations.toList)

  override def close(): Unit = stub.stop()
}

/** The SQL surface the reference hands to its warehouse: one entry per
  * query family, plus the SQL-text twin of the aggregate; one client,
  * sequential. */
final class WarehouseQueries(ctx: Ctx) extends Workload {
  import Workload._
  import ctx.spark

  val Mix: Seq[(String, String)] = Seq(
    "q05_filter_conj" -> "scan",
    "q16_agg_hash" -> "agg", "q16_agg_hash_sql" -> "agg",
    "q24b_topk_per_group" -> "window",
    "q08_join_inner" -> "join",
    "q14_join_asof" -> "asof",
    "q32_conditional" -> "func",
    "q58_cohort_retention" -> "analytics")

  private val checkDir = ctx.work.resolve("check")
  // the one warm-up round doubles as the checked result: each entry's
  // output lands as parquet for the oracle comparison
  Mix.foreach { case (n, _) => dumpEntry(spark, n, ctx.dataDir, checkDir) }

  val ops: Seq[Op] = Mix.map { case (n, fam) =>
    Op(n, fam, _ => { val r = runEntry(ctx, n); OpOutcome(r, r) })
  }

  def checks: Map[String, Any] = entryChecks(checkDir, Mix.map(_._1))
}

/** Commit-heavy upkeep: fresh AvailableNow streaming runs, each on
  * fresh state. The traced probe steps through q41o's LSM cycle and
  * q79c's IVF cycle one commit at a time. */
final class IncrementalUpkeep(ctx: Ctx) extends Workload {
  import Workload._
  import ctx.spark

  /** q46c runs q36's tumbling aggregate and loads it, so q36 is not an
    * op of its own. q39_stream_dedup, q48_stream_stream_join and the
    * q41o / q79c artifact cycles are not timed ops: a run with them does
    * not fit the time budget; see README.md. */
  val Streams: Seq[String] = Seq("q46c_stream_refresh_pipeline", "q60c_cdc_stream_upsert")

  private val checkDir = ctx.work.resolve("check")
  private val tableRoot = java.nio.file.Paths.get(new java.net.URI(
    spark.conf.get("spark.sql.warehouse.dir") + "/")).resolve("graft.db")

  private def docs = graft.Tables.documents(spark, ctx.dataDir).select("doc_id", "text")
  private def emb = graft.Tables.embeddings(spark, ctx.dataDir)

  /** Stream input rows of each op, and the docs q41o's cycle offers for
    * append. Fixed by the tables, counted once here. */
  private val landed: Map[String, Long] = {
    val events = graft.Tables.events(spark, ctx.dataDir).count()
    val c = graft.Tables.customer(spark, ctx.dataDir)
      .agg(count(lit(1)), sum(when(col("c_custkey") % 7 === 0, 1).otherwise(0)),
        sum(when(col("c_custkey") % 50 === 0, 1).otherwise(0)),
        sum(when(col("c_custkey") % 13 === 0, 1).otherwise(0))).head()
    val feed = (0 until 4).map(i => c.get(i).toString.toLong).sum
    val batch1 = docs.filter(col("doc_id") % 10 === 3 || col("doc_id") % 10 === 4).count()
    Map("q46c_stream_refresh_pipeline" -> events, "q60c_cdc_stream_upsert" -> feed,
      "q41o_dedup_incremental_neardup_lsm" -> batch1)
  }

  private def listing(p: Path): Set[String] =
    Option(p.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  val ops: Seq[Op] = Streams.map(n =>
    Op(n, "stream", _ => OpOutcome(runEntry(ctx, n), landed(n))))

  // the one warm-up round doubles as the checked result; a second round
  // cut the JIT time left in the timed passes by only about a sixth
  Streams.foreach(n => dumpEntry(spark, n, ctx.dataDir, checkDir))

  private var probeSeq = 0

  /** The q41o and q79c cycles again, step by step through the public
    * artifact APIs, so each commit protocol step gets its own time. */
  override def probe(): Map[String, Double] = {
    probeSeq += 1
    val op = s"probe$probeSeq"
    def secs[T](name: String)(body: => T): (T, Double) = ctx.spans.timed(name, op)(body)
    val base = ctx.work.resolve(s"probe-$probeSeq")
    val tablesBefore = listing(tableRoot)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // LSM: save → probe → append accepted → probe
    val lsmRoot = base.resolve("lsm").toString
    val name = s"bench_lsm_$probeSeq"
    val d = docs
    val batch1 = d.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 2000000L).as("doc_id"), concat(lit("copy "), col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 10 === 4).select(
        (col("doc_id") + 3000000L).as("doc_id"), translate(col("text"), "aeiou", "xyzwv").as("text")))
    val batch2 = d.filter(col("doc_id") % 10 === 4)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(lit("copy "), translate(col("text"), "aeiou", "xyzwv")).as("text"))
      .unionByName(d.filter(col("doc_id") % 10 === 6).select(
        (col("doc_id") + 5000000L).as("doc_id"), translate(col("text"), "aeiou", "uoiea").as("text")))
    def verdicts(b: DataFrame) = {
      val (segs, dfE) = ShingleIndex.loadLsmHinted(spark, lsmRoot)
      Dedup.incrementalNearDupSegmented(segs, dfE, b, "doc_id", "text",
        k = 2, maxDf = 20, threshold = 0.2)
    }
    val (_, saveS) = secs("lsm.save")(ShingleIndex.saveLsm(spark, d, "doc_id", "text", 2, lsmRoot, name))
    val (v1, probe1S) = secs("lsm.probe")(verdicts(batch1).localCheckpoint())
    val accepted = batch1.join(v1.filter(col("matched") === 0)
      .select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_semi").localCheckpoint()
    val nAccepted = accepted.count()
    val (_, appendS) = secs("lsm.append")(
      ShingleIndex.appendLsm(spark, accepted, "doc_id", "text", 2, lsmRoot, name))
    val (_, probe2S) = secs("lsm.probe")(noop(verdicts(batch2)))
    val segments = ShingleIndex.currentManifest(spark, lsmRoot).map(_.segments.size).getOrElse(0)
    val newTables = listing(tableRoot) -- tablesBefore
    val lsmBytes = treeBytes(base.resolve("lsm"))._2 +
      newTables.toSeq.map(n => treeBytes(tableRoot.resolve(n))._2).sum

    // IVF: train + commit → four delta appends → probe
    val ivfRoot = base.resolve("ivf").toString
    val corpus0 = emb.filter(col("vec_id") % 10 =!= 7)
    val (c0, commitS) = secs("ivf.commit") {
      val c = Similarity.ivfCentroids(corpus0, cells = 16)
      IvfIndex.commitGeneration(spark, corpus0, c, ivfRoot)
      c
    }
    val assignDir = IvfIndex.currentGenDir(spark, ivfRoot).get + "/assign"
    val arrivals = emb.filter(col("vec_id") % 10 === 7).localCheckpoint()
    val (_, appendIvfS) = secs("ivf.append")((0 until 4).foreach { i =>
      IvfIndex.appendAssignments(spark,
        arrivals.filter(pmod(floor(col("vec_id") / 10), lit(4)) === i), c0, assignDir)
    })
    val (_, probeIvfS) = secs("ivf.probe") {
      val (cents, assigned) = IvfIndex.loadCurrent(spark, ivfRoot)
      noop(Similarity.ivfTopKProbed(cents, assigned,
        emb.filter(col("vec_id") % 100 === 0), k = 5, nprobe = 4))
    }
    val (maxCell, total) = IvfIndex.occupancy(spark, assignDir)

    newTables.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS graft.$n")
      deleteTree(tableRoot.resolve(n))
    }
    deleteTree(base)
    val b1 = landed("q41o_dedup_incremental_neardup_lsm")
    Map("lsm.save_s" -> saveS, "lsm.append_s" -> appendS,
      "lsm.probe_s" -> (probe1S + probe2S), "lsm.segments" -> segments.toDouble,
      "lsm.mb" -> lsmBytes / 1048576.0,
      "lsm.accept_ratio" -> (if (b1 > 0) nAccepted.toDouble / b1 else 0.0),
      "ivf.commit_s" -> commitS, "ivf.append_s" -> appendIvfS,
      "ivf.probe_s" -> probeIvfS,
      "ivf.max_cell_share" -> (if (total > 0) maxCell.toDouble / total else 0.0))
  }

  def checks: Map[String, Any] = entryChecks(checkDir, Streams)
}
