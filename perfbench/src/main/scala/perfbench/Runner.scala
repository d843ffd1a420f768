package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.ops.{Curate, CurateIncremental, Dedup, Sampling, Similarity, Sketches}

/** The benchmark's JVM side: drives one workload through the program's
  * public entry points on inputs `perfbench/run.py` generated, times each
  * operation, runs the output checks outside every timing, and writes one
  * JSON record to `<work>/record.json`. All arithmetic on the record
  * (percentiles, layer attribution) happens in `perfbench/metrics.py`.
  *
  * Usage: Runner <workload> <inputs> <work> <seconds> <trace 0|1> <cores> <seed>
  */
object Runner {

  final case class Op(kind: String, name: String, t0: Long, t1: Long, wallS: Double,
                      ok: Boolean, items: Long, err: String, gcMs: Long, oldGenMb: Double,
                      traceS: Double)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsS, traceS, coresS, seedS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val seed = seedS.toLong
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, inputs, work, seconds, tracer, seed)
    workload match {
      case "lake_backfill" => run.lake()
      case "curate_week" => run.curate()
      case "analyst_queries" => run.queries()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    import Json._
    val record = obj(
      "workload" -> str(workload),
      "session_s" -> num(sessionS),
      "cores" -> num(cores),
      "default_parallelism" -> num(spark.sparkContext.defaultParallelism),
      "spark_version" -> str(spark.version),
      "jvm_version" -> str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "bootstrap_s" -> num(run.bootstrapS),
      "warmup_s" -> num(run.warmupS),
      "ops" -> arr(run.ops.map(o => obj("kind" -> str(o.kind), "name" -> str(o.name),
        "t0" -> num(o.t0), "t1" -> num(o.t1), "wall_s" -> num(o.wallS),
        "ok" -> bool(o.ok), "items" -> num(o.items), "err" -> str(o.err),
        "gc_ms" -> num(o.gcMs), "old_gen_mb" -> num(o.oldGenMb), "trace_s" -> num(o.traceS)))),
      "checks" -> arr(run.checks.map { case (n, ok, detail, s) =>
        obj("name" -> str(n), "ok" -> bool(ok), "detail" -> detail, "s" -> num(s)) }),
      "extra" -> obj(run.extra.toSeq: _*),
      "trace" -> tracer.map(_.toJson).getOrElse("null"))
    Files.writeString(Paths.get(work, "record.json"), record)
    spark.stop()
  }
}

/** One workload run on one session. Operations are closed-loop with one
  * client thread: the next starts when the previous one returns. */
final class Run(spark: SparkSession, inputs: String, work: String, seconds: Double,
                tracer: Option[Tracer], seed: Long) {
  import spark.implicits._
  import Json._

  val ops = mutable.ArrayBuffer.empty[Runner.Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String, Double)]
  val extra = mutable.LinkedHashMap.empty[String, String]
  var bootstrapS = 0.0
  var warmupS = 0.0

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val oldGen = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  }
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    gcBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val x = f
    (x, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs one operation; in a traced run the tracer is attached around
    * it, and the time spent in its callbacks is the operation's tracing
    * cost. */
  private def op(kind: String, name: String, items: Long)(f: => Unit): Boolean = {
    tracer.foreach(_.attach())
    val self0 = tracer.map(_.selfNs).getOrElse(0L)
    val g0 = gcMs()
    val w0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val err = try { f; "" } catch {
      case e: Throwable => Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
    }
    val wall = (System.nanoTime() - n0) / 1e9
    val w1 = System.currentTimeMillis()
    val g1 = gcMs()
    tracer.foreach(_.detach())
    val traceS = tracer.map(_.selfNs - self0).getOrElse(0L) / 1e9
    val old = oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .getOrElse(0.0)
    ops += Runner.Op(kind, name, w0, w1, wall, err.isEmpty, items, err, g1 - g0, old, traceS)
    err.isEmpty
  }

  private def check(name: String)(f: => (Boolean, String)): Unit = {
    val t0 = System.nanoTime()
    val (ok, detail) = try f catch {
      case e: Throwable => (false, str(Option(e.getMessage).getOrElse(e.toString).take(300)))
    }
    checks += ((name, ok, detail, elapsed(t0)))
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---------------------------------------------------------- lake_backfill

  /** Sequential snapshot days through `Pipeline.backfill`, one day per
    * call, into one lake; each day's span wraps the backfill's `runDay`
    * seam. */
  def lake(): Unit = {
    val dates = Files.readString(Paths.get(inputs, "dates.txt")).split("\n").filter(_.nonEmpty)
    val raw = s"$inputs/raw"
    val lake = s"$work/lake"
    val c = Pipeline.Config(raw, s"$lake/lake", s"$lake/serving", dates.head, "bench",
      multiLineRaw = false)
    def backfillDay(i: Int, spanned: Double => Unit): Unit = {
      val ran = Pipeline.backfill(spark, c, Seq(dates(i)), retries = 0, sleeper = _ => (),
        runDay = (s, dc) => { val (r, w) = timed(Pipeline.run(s, dc)); spanned(w); r })
      require(ran.size == 1, s"day ${dates(i)} did not run")
    }
    // warm-up: the first day (JIT, codegen, parquet writer paths); the
    // timed days then upsert into a lake that already holds a day
    val warm = 1
    warmupS = timed((0 until warm).foreach(backfillDay(_, _ => ())))._2
    val t0 = System.nanoTime()
    var i = warm
    while (i < dates.length && elapsed(t0) < seconds) {
      var dayWall = Double.NaN
      val ok = op("day", dates(i), 1L) {
        backfillDay(i, w => dayWall = w)
      }
      if (ok) ops(ops.size - 1) = ops.last.copy(wallS = dayWall)
      i += 1
    }
    extra("first_day") = num(warm)
    extra("days_run") = num(i - warm)
    extra("lake_dir") = str(lake)
    check("kpi_rows") {
      val rows = graft.io.LakeZones.readTable(spark, s"$lake/lake", "usage", "kpi_daily")
        .select(col("snapshot_date").cast("string"), col("nb_movies"),
          col("nb_movies_with_omdb"), col("nb_overhyped"), col("nb_hidden_gems"))
        .orderBy("snapshot_date").as[(String, Long, Long, Long, Long)].collect()
      (true, arr(rows.map { case (d, a, b, c, e) => arr(Seq(str(d), num(a), num(b), num(c), num(e))) }))
    }
  }

  // ------------------------------------------------------------ curate_week

  private val sh3: org.apache.spark.sql.Column => org.apache.spark.sql.Column = t => {
    val ws = split(trim(t), "\\s+")
    val len = greatest(size(ws) - 2, lit(0))
    zip_with(zip_with(slice(ws, lit(1), len), slice(ws, lit(2), len),
      (a, b) => concat(a, lit(" "), b)), slice(ws, lit(3), len),
      (ab, c) => concat(ab, lit(" "), c))
  }
  private val ecfg = CurateIncremental.EmbedConfig(threshold = 0.99, nPlanes = 8,
    prefixBits = 8, seeds = Seq(42L, 1042L), dim = 64)
  private lazy val holdout = Seq((900000000L,
    "benchmark holdout phrase matching nothing in this corpus")).toDF("doc_id", "text")
  private val cfg0 = Curate.Config(nearDupThreshold = 2.0,
    entityExact = Some(Curate.EntityExact(sh3, 2L, 3L)))

  /** Bootstrap of the q150 lane set (exact fingerprint, exact-Jaccard
    * entity index, DSIR profiles, embedding SRP) on a seeded corpus,
    * then sequential `CurateIncremental.daily` deltas on the same state. */
  def curate(): Unit = {
    val boot = spark.read.parquet(s"$inputs/bootstrap.parquet").cache()
    val deltas = new java.io.File(inputs).list().filter(_.startsWith("delta_")).sorted
    // DSIR profiles first (a quarter of the sources is the target
    // distribution, the q150 split), so bootstrap and dailies select with
    // the same fixed profiles and the batch reference can use them too
    val isT = regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4 === 0
    def bootstrapInto(root: String): Curate.Config = {
      Sampling.dsirProfileUpdateState(spark, s"$root/dsir_t", boot.filter(isT), "text", "boot")
      Sampling.dsirProfileUpdateState(spark, s"$root/dsir_r", boot.filter(!isT), "text", "boot")
      val cfg = cfg0.copy(dsir = Some(Curate.Dsir(Sketches.readState(spark, s"$root/dsir_t"),
        Sketches.readState(spark, s"$root/dsir_r"))))
      CurateIncremental.bootstrap(boot.select("doc_id", "text"), holdout, "doc_id", "text",
        s"$root/state", cfg, vecs = Some(boot.select("doc_id", "v")), vecCol = "v",
        ecfg = ecfg).release()
      cfg
    }
    val root = s"$work/curate"
    val (cfg, bootS) = timed(bootstrapInto(root))
    bootstrapS = bootS
    // the delta is read (schema inference included) before its operation
    // starts, so the operation times `daily` alone
    def daily(d: DataFrame): Unit =
      CurateIncremental.daily(d.select("doc_id", "text"), holdout, "doc_id", "text",
        s"$root/state", cfg, deltaVecs = Some(d.select("doc_id", "v")), vecCol = "v",
        ecfg = ecfg).release()
    val sizes = Files.readString(Paths.get(inputs, "delta_sizes.txt")).split("\n")
      .filter(_.nonEmpty).map(_.toLong)
    val t0 = System.nanoTime()
    var k = 0
    while (k < deltas.length && elapsed(t0) < seconds) {
      val d = spark.read.parquet(s"$inputs/${deltas(k)}")
      op("daily", deltas(k), sizes(k))(daily(d))
      k += 1
    }
    extra("deltas_run") = num(k)
    extra("state_dir") = str(s"$root/state")
    extra("state_files_per_bucket") =
      num(CurateIncremental.stateFilesPerBucket(spark, s"$root/state"))
    val stateIds = CurateIncremental.loadState(spark, s"$root/state").corpus
      .select("doc_id").as[Long].collect().toSet
    extra("state_ids") = arr(stateIds.toSeq.sorted.map(num(_)))
    check("incremental_equals_batch") {
      val union = (0 until k).map(j => spark.read.parquet(s"$inputs/${deltas(j)}")
        .select("doc_id", "text", "v")).foldLeft(boot.select("doc_id", "text", "v"))(_ unionByName _)
      val r = Curate.curate(union.select("doc_id", "text"), holdout, "doc_id", "text", cfg)
      val survivorVecs = union.select("doc_id", "v")
        .join(r.corpus.select("doc_id"), Seq("doc_id"), "left_semi")
      val pairs = Similarity.embeddingNearDupsQuantized(survivorVecs, "doc_id", "v",
        ecfg.threshold, ecfg.nPlanes, ecfg.prefixBits, ecfg.seeds, ecfg.quantScale, ecfg.dim)
      val batch = Dedup.survivorsTransitive(survivorVecs, pairs, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      r.release()
      val onlyInc = (stateIds -- batch).toSeq.sorted.take(10)
      val onlyBatch = (batch -- stateIds).toSeq.sorted.take(10)
      (onlyInc.isEmpty && onlyBatch.isEmpty, obj("incremental" -> num(stateIds.size),
        "batch" -> num(batch.size), "only_incremental" -> arr(onlyInc.map(num(_))),
        "only_batch" -> arr(onlyBatch.map(num(_)))))
    }
  }

  // -------------------------------------------------------- analyst_queries

  /** A read-only mix of catalog queries, each through the noop sink as
    * the catalog bench runs them; the seed shuffles the order per pass.
    * The warm-up pass writes each result once for the oracle check. */
  def queries(): Unit = {
    val names = Files.readString(Paths.get(inputs, "queries.txt")).split("\n").filter(_.nonEmpty)
    val rng = new scala.util.Random(seed)
    def exec(n: String): DataFrame = SparkEntry.queries(n)(spark, inputs)
    warmupS = timed(names.foreach { n =>
      check(s"oracle:$n") {
        exec(n).write.mode("overwrite").parquet(s"$work/results/$n")
        (true, str(SparkEntry.oracleSql.getOrElse(n, "")))
      }
    })._2
    val t0 = System.nanoTime()
    var pass = 0
    while (elapsed(t0) < seconds) {
      rng.shuffle(names.toSeq).foreach { n =>
        op("query", s"$pass/$n", 1L)(exec(n).write.format("noop").mode("overwrite").save())
      }
      pass += 1
    }
  }
}
