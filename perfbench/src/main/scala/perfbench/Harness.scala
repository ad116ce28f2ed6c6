package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}

/** JVM side of the benchmark.  `run.py` builds it, prepares inputs and
  * starts one JVM per mode:
  *
  *  - `run`: set up the session several times (`setup_s`), then run timed
  *    passes over the workload's items until `--seconds` have elapsed,
  *    one client thread, one item at a time.  Each item is constructed
  *    (the builder call), planned (`queryExecution.executedPlan`) and
  *    executed with the [[Digest]] action, each phase under its own job
  *    group.  Self-tests and invariant checks run after the timed passes.
  *  - `golden`: execute each fixture query once, write its result for the
  *    DuckDB oracle and record its digest.
  *  - `census`: one untimed, counts-only pass over every entry of
  *    `SparkEntry.queries`.
  *
  * Every mode writes one JSON record to `--out`; `run.py` turns it into
  * the benchmark's metrics. */
object Harness {

  final case class Item(name: String, kind: String, build: () => DataFrame,
      act: DataFrame => Digest.Result)
  final case class Phase(pass: Int, item: Int, name: String, start: Long, end: Long)
  final case class ItemRec(pass: Int, idx: Int, name: String, kind: String,
      constructS: Double, planS: Double, execS: Double, rows: Long, digest: String,
      error: Option[String], materialized: Long)
  final case class PassRec(pass: Int, wallS: Double, cpuS: Double, shuffleBytes: Long,
      start: Long, end: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val record = a("mode") match {
      case "run" => run(a)
      case "golden" => golden(a)
      case "census" => census(a)
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(Paths.get(out), Json(record))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  // ---------------------------------------------------------------- session

  def session(a: Map[String, String]): SparkSession = {
    val cpus = a("cpus")
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def cpuNanos: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ")
      .take(3).mkString(" ")
    catch { case NonFatal(_) => "unavailable" }

  private def peakRssMb: Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }

  private def errText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** Warm-up after the set-ups, once per run: one small query through the
    * shuffle, hash-aggregate, join, window and sort paths, so that the
    * first timed item does not pay for compiling the engine's generic
    * code (otherwise whichever item the seed puts first runs slowest).
    * With `kernels`, the text and vector kernels run once too. */
  def warmUp(spark: SparkSession, kernels: Boolean): Double = {
    val t0 = System.nanoTime()
    val r = spark.range(0, 30000, 1, spark.sparkContext.defaultParallelism)
      .select(col("id"), (col("id") % 97).as("k"), (col("id") * 1.5).as("v"),
        concat(lit("s"), (col("id") % 1000).cast("string")).as("s"))
    val agg = r.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"), max("s").as("ms"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(col("v").desc)
    Digest(r.join(agg, "k").withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .orderBy("k", "rn"))
    Digest(r.select("s").distinct().orderBy("s"))
    if (kernels) {
      val d = r.limit(2000).select(col("id"),
        concat_ws(" ", lit("mail"), col("s"), lit("at user@example.com"), col("k").cast("string"))
          .as("text"), array(col("v").cast("float"), col("k").cast("float")).as("vec"))
      Digest(d.select(graft.Graft.redact(col("text")), graft.Graft.tokenHashes(col("text")),
        graft.Graft.simHash(col("text")), graft.Graft.cosineSim(col("vec"), col("vec")),
        graft.Graft.jaccardSim(split(col("text"), " "), split(col("text"), " "))))
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ---------------------------------------------------------------- items

  /** Fixture-query items: `SparkEntry.queries(name)` over the fixture. */
  def fixtureItems(spark: SparkSession, names: Seq[String], dir: String): Seq[Item] = {
    val qs = graft.SparkEntry.queries
    names.map { n =>
      val fn = qs.getOrElse(n, sys.error(s"no query $n in SparkEntry.queries"))
      Item(n, "query", () => fn(spark, dir), Digest(_))
    }
  }

  private def readLines(path: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(path))).split("\n").map(_.trim)
      .filter(_.nonEmpty).toSeq

  /** Golden table: name -> (rows, digest, oracle verdict). */
  private def readGolden(path: String): Map[String, (Long, String, String)] =
    readLines(path).map(_.split("\t", -1)).map { f =>
      f(0) -> (f(1).toLong, f(2), f(3))
    }.toMap

  /** The same query with its first row altered in one column: a wrong-row
    * result that the correctness check must flag. */
  def plant(df: DataFrame): DataFrame = {
    val f = df.schema.fields.find(f =>
      f.dataType == StringType || f.dataType.isInstanceOf[NumericType])
      .getOrElse(sys.error("no string or numeric column to plant a defect in"))
    val c = col(s"`${f.name}`")
    val altered =
      if (f.dataType == StringType) coalesce(concat(c, lit("#planted")), lit("#planted"))
      else coalesce(c + lit(1), lit(1)).cast(f.dataType)
    df.limit(1).withColumn(f.name, altered).union(df.offset(1))
  }

  // ---------------------------------------------------------------- timed loop

  final class Runner(spark: SparkSession, collector: Collector, trace: Boolean) {
    private val sc = spark.sparkContext
    val phases = ArrayBuffer.empty[Phase]
    val items = ArrayBuffer.empty[ItemRec]
    val passes = ArrayBuffer.empty[PassRec]

    private def phase[T](pass: Int, idx: Int, name: String, label: String)(f: => T): (T, Double) = {
      sc.setJobGroup(s"$pass/$idx/$name", s"$label $name")
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try {
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      } finally {
        phases += Phase(pass, idx, name, ms, System.currentTimeMillis())
        sc.clearJobGroup()
      }
    }

    def runItem(pass: Int, idx: Int, it: Item): ItemRec = {
      val mat0 = collector.materialized
      var (c, p, e) = (0.0, 0.0, 0.0)
      val rec = try {
        val (df, tc) = phase(pass, idx, "construct", it.name)(it.build())
        c = tc
        val (_, tp) = phase(pass, idx, "plan", it.name)(df.queryExecution.executedPlan)
        p = tp
        val (r, te) = phase(pass, idx, "exec", it.name)(it.act(df))
        e = te
        ItemRec(pass, idx, it.name, it.kind, c, p, e, r.rows, r.digest, None, 0L)
      } catch {
        case NonFatal(t) =>
          System.err.println(s"[perfbench] ${it.name} failed: ${errText(t)}")
          ItemRec(pass, idx, it.name, it.kind, c, p, e, -1L, "", Some(errText(t)), 0L)
      }
      val done = if (trace) {
        BusDrain(sc)
        rec.copy(materialized = collector.materialized - mat0)
      } else rec
      items += done
      done
    }

    /** Timed passes over `work` until `seconds` have elapsed and at least
      * `minPasses` have run.  `perPass` rebuilds the items for a pass. */
    def passesFor(seconds: Double, minPasses: Int, perPass: Int => Seq[Item]): Unit = {
      val t0 = System.nanoTime()
      var pass = 0
      while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        pass += 1
        val work = perPass(pass)
        BusDrain(sc)
        val shw0 = collector.shuffleWrite
        val cpu0 = cpuNanos
        val ms0 = System.currentTimeMillis()
        val w0 = System.nanoTime()
        work.zipWithIndex.foreach { case (it, i) => runItem(pass, i, it) }
        val wall = (System.nanoTime() - w0) / 1e9
        val cpu = (cpuNanos - cpu0) / 1e9
        val ms1 = System.currentTimeMillis()
        BusDrain(sc)
        passes += PassRec(pass, wall, cpu, collector.shuffleWrite - shw0, ms0, ms1)
        System.err.println(f"[perfbench] pass $pass%d: ${work.size}%d items, $wall%.3f s wall, $cpu%.3f s cpu")
      }
    }
  }

  // ---------------------------------------------------------------- run mode

  def run(a: Map[String, String]): Map[String, Any] = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val setups = a.getOrElse("setups", "3").toInt
    val minPasses = a.getOrElse("passes", "1").toInt
    val loadStart = loadavg
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val isPipeline = workload == "llm_pipeline"
    val names = if (isPipeline) Nil else readLines(a("items"))

    // -- set-up, several times: session, table registration and one scan
    // of the largest table.  The first sample runs from JVM start.
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session(a)
      val tables =
        if (isPipeline) Seq("documents", "embeddings").map(graft.Tables.load(spark, a("corpus"), _))
        else Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
          "events", "documents", "embeddings").map(graft.Tables.load(spark, a("fixture"), _))
      Digest(tables.head.limit(1000))
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }
    val warmupS = warmUp(spark, isPipeline)
    val sc = spark.sparkContext
    val collector = new Collector(trace)
    sc.addSparkListener(collector)
    if (trace) spark.listenerManager.register(collector)
    val runner = new Runner(spark, collector, trace)
    val runStart = System.currentTimeMillis()

    val checks = ArrayBuffer.empty[Map[String, Any]]
    def check(name: String)(f: => (Boolean, String)): Unit = {
      val (ok, detail) = try f catch { case NonFatal(t) => (false, errText(t)) }
      if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    }

    val golden = if (isPipeline) Map.empty[String, (Long, String, String)] else readGolden(a("golden"))
    if (isPipeline) {
      val p = new Pipeline(spark, a("corpus"), s"${a("work")}/pipeline", seed)
      runner.passesFor(a("seconds").toDouble, minPasses, _ => p.items)
      p.checks(a, check)
    } else {
      val rnd = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
      val order = rnd.shuffle(fixtureItems(spark, names, a("fixture")))
      runner.passesFor(a("seconds").toDouble, minPasses, _ => order)
      check("selftest.planted_wrong_row") {
        // the quickest oracle-verified item with two rows or more
        val target = runner.items.filter(r => golden.get(r.name).exists(g => g._3 == "pass" && g._1 >= 2))
          .sortBy(r => r.constructS + r.planS + r.execS).headOption
          .flatMap(r => order.find(_.name == r.name))
          .getOrElse(sys.error("no oracle-verified item with two rows"))
        val g = golden(target.name)
        val r = Digest(plant(target.build()))
        (r.digest != g._2, s"${target.name}: planted digest ${r.digest} vs oracle-verified ${g._2}")
      }
    }
    check("selftest.column_consumption") {
      val calls = sc.longAccumulator("perfbench.kernel_calls")
      val kernel = udf { (x: Long) => calls.add(1); x * 31 + 7 }
      val n = 20000L
      val df = spark.range(0, n, 1, 4).select(col("id"), kernel(col("id")).as("k"))
      val rows = Digest(df).rows
      val viaDigest = calls.value
      calls.reset()
      df.count()
      val viaCount = calls.value
      (rows == n && viaDigest == n,
        s"kernel calls: $viaDigest under the benchmark action for $rows rows; $viaCount under count()")
    }
    val runEnd = System.currentTimeMillis()
    BusDrain(sc)

    val layers = if (trace) Layers.derive(runner, collector, runStart, runEnd) else Map.empty
    val spans = if (trace) {
      val path = s"${a("work")}/spans-$workload-$seed.jsonl"
      Layers.writeSpans(path, runner, collector, runStart, runEnd)
      path
    } else ""
    Map(
      "stamp" -> Map(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "cpus" -> a("cpus").toInt,
        "default_parallelism" -> sc.defaultParallelism,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg),
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "passes" -> runner.passes.map(p => Map("pass" -> p.pass, "wall_s" -> p.wallS,
        "cpu_s" -> p.cpuS, "shuffle_bytes" -> p.shuffleBytes)),
      "items" -> runner.items.map(r => Map("pass" -> r.pass, "name" -> r.name, "kind" -> r.kind,
        "construct_s" -> r.constructS, "plan_s" -> r.planS, "exec_s" -> r.execS,
        "rows" -> r.rows, "digest" -> r.digest, "error" -> r.error)),
      "checks" -> checks,
      "layers" -> layers,
      "spans" -> spans,
      "peak_rss_mb" -> peakRssMb)
  }

  // ---------------------------------------------------------------- golden mode

  def golden(a: Map[String, String]): Map[String, Any] = {
    val spark = session(a)
    val names = readLines(a("items"))
    val dir = a("fixture")
    val outDir = a("dump")
    val rows = ArrayBuffer.empty[String]
    fixtureItems(spark, names, dir).foreach { it =>
      val line = try {
        it.build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/${it.name}")
        val r = Digest(it.build())
        s"${it.name}\t${r.rows}\t${r.digest}\t"
      } catch {
        case NonFatal(t) => s"${it.name}\t-1\t\t${errText(t).replace('\t', ' ').replace('\n', ' ')}"
      }
      System.err.println(s"[perfbench] golden $line")
      rows += line
    }
    // a planted wrong-row copy of the first query, for the oracle self-test
    val planted = names.head
    plant(graft.SparkEntry.queries(planted)(spark, dir)).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/planted")
    Files.writeString(Paths.get(a("table")), rows.mkString("", "\n", "\n"))
    val sql = graft.SparkEntry.oracleSql
    Map("oracle_sql" -> names.flatMap(n => sql.get(n).map(n -> _)).toMap,
      "planted" -> planted)
  }

  // ---------------------------------------------------------------- census mode

  def census(a: Map[String, String]): Map[String, Any] = {
    val spark = session(a)
    val collector = new Collector(true)
    spark.sparkContext.addSparkListener(collector)
    spark.listenerManager.register(collector)
    val runner = new Runner(spark, collector, true)
    val names = graft.SparkEntry.queries.keys.toSeq.sortBy(n => (n.drop(1).takeWhile(_.isDigit).toInt, n))
    val items = fixtureItems(spark, names, a("fixture"))
    val ms0 = System.currentTimeMillis()
    items.zipWithIndex.foreach { case (it, i) => runner.runItem(1, i, it) }
    BusDrain(spark.sparkContext)
    val perItem = Layers.perItem(runner, collector)
    Map("queries" -> runner.items.map { r =>
      Map("name" -> r.name, "construct_s" -> r.constructS, "plan_s" -> r.planS,
        "exec_s" -> r.execS, "rows" -> r.rows, "error" -> r.error) ++ perItem(r.idx)
    }, "wall_s" -> (System.currentTimeMillis() - ms0) / 1000.0,
      "default_parallelism" -> spark.sparkContext.defaultParallelism)
  }
}
