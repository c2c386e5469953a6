package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.pipeline.{Curate, Generators, Ingest, Lakehouse}

/** The JVM half of the benchmark: one Spark session, one client, ops run
  * back to back. It sets up a workload (session, inputs, one untimed
  * check pass that also warms the JVM), times passes over the workload's
  * op list, optionally runs one traced pass plus the kernel step, and
  * writes everything it measured to a JSON file that `run.py` checks and
  * reports.
  *
  * Usage: Harness --workload W --inputs DIR --work DIR
  *   --seconds S --trace 0|1 --seed N --start-ms EPOCH --deadline-ms EPOCH
  */
object Harness {

  final case class Args(workload: String, inputs: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, startMs: Long, deadlineMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("start-ms").toLong, m("deadline-ms").toLong)
  }

  /** Timed phases of one op execution (label, start ms, seconds). */
  final class Phases {
    val spans = ArrayBuffer.empty[(String, Long, Double)]
    def apply[A](label: String)(body: => A): A = {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body finally spans += ((label, t0, (System.nanoTime() - n0) / 1e9))
    }
  }

  /** One op of a workload. `run` is the timed body; `check` dumps the
    * op's output for the oracle comparison and is never timed, nor is
    * `dumpAfter`, called once a timed pass's wall is taken, which dumps
    * an output the op's last timed run left behind. */
  abstract class Op(val name: String) {
    def run(ph: Phases): Unit
    def check(ph: Phases): Seq[Dump] = Seq.empty
    def dumpAfter(passId: String, ph: Phases): Seq[Dump] = Seq.empty
  }

  /** An output written for `run.py`'s checks: op, parquet dir, inputs dir. */
  final case class Dump(op: String, path: String, inputs: String)

  final case class OpRecord(name: String, startMs: Long, wallS: Double,
      phases: Phases, error: Option[String], stats: Option[OpStats],
      blockBytesAfter: Long, dumps: Seq[Dump])

  final case class PassRecord(id: String, kind: String, startMs: Long,
      wallS: Double, ops: Seq[OpRecord], extra: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val exit =
      try { run(spark, a, cores, sessionReadyMs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    val stopper = new Thread(() => try spark.stop() catch { case _: Throwable => })
    stopper.setDaemon(true); stopper.start(); stopper.join(30000)
    System.exit(exit)
  }

  private def run(spark: SparkSession, a: Args, cores: Int, sessionReadyMs: Long): Unit = {
    val sc = spark.sparkContext
    val w = Workloads(a.workload, spark, a)
    val inputsReadyMs = System.currentTimeMillis()

    var attempted = 0L
    def pastDeadline = System.currentTimeMillis() > a.deadlineMs

    /** Run one op on its own thread under its job group; an op that
      * overruns the per-op cap or the run's deadline is cancelled. */
    def runOp(op: Op, body: Phases => Seq[Dump], trace: Option[Trace]): OpRecord = {
      attempted += 1
      val ph = new Phases
      var error: Option[String] = None
      var dumps = Seq.empty[Dump]
      val group = Trace.groupPrefix + op.name
      trace.foreach(_.begin(op.name))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      if (pastDeadline) error = Some("skipped: run deadline passed")
      else {
        val worker = new Thread(() => {
          sc.setJobGroup(group, op.name, interruptOnCancel = true)
          try dumps = body(ph)
          catch { case e: Throwable => error = Some(e.toString.take(500)) }
          finally sc.clearJobGroup()
        }, group)
        worker.setDaemon(true)
        worker.start()
        worker.join(math.max(1L, math.min(Workloads.opCapMs, a.deadlineMs - startMs)))
        if (worker.isAlive) {
          error = Some("timed out")
          sc.cancelJobGroup(group)
          worker.join(10000)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      error.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
      val stats = trace.map { t =>
        PerfbenchBridge.drainListenerBus(sc)
        t.begin("")
        t.stats(op.name)
      }
      OpRecord(op.name, startMs, wall, ph, error, stats,
        trace.map(_.blockBytesNow).getOrElse(0L), dumps)
    }

    def runPass(id: String, kind: String, trace: Option[Trace]): PassRecord = {
      val ops = w.passOps(id)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val recs = ops.map { op =>
        if (kind == "check") runOp(op, ph => op.check(ph), trace)
        else runOp(op, ph => { op.run(ph); Seq.empty }, trace)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val dumped = if (kind != "timed") recs else recs.zip(ops).map { case (r, op) =>
        r.copy(dumps = r.dumps ++ op.dumpAfter(id, r.phases))
      }
      PassRecord(id, kind, startMs, wall, dumped, w.afterPass(id))
    }

    /** Whole passes until `--seconds` have elapsed; at least one. */
    def timedPasses(prefix: String, kind: String): Seq[PassRecord] = {
      val t0 = System.nanoTime()
      val out = ArrayBuffer.empty[PassRecord]
      while (out.isEmpty || (!pastDeadline && (System.nanoTime() - t0) / 1e9 < a.seconds))
        out += runPass(s"$prefix${out.size}", kind, None)
      out.toSeq
    }

    val checkPass = runPass("check", "check", None)
    val firstTimedMs = System.currentTimeMillis()
    val timed = timedPasses("pass", "timed")

    // A traced run adds the traced pass and, for the tracing overhead, one
    // more untraced pass right after it: both are at least as warm as the
    // timed passes before them.
    var traced = Seq.empty[PassRecord]
    var kernels = Seq.empty[(String, Double)]
    var blockPeak = 0L
    if (a.trace) {
      val t = new Trace
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      val tracedPass = runPass("traced", "traced", Some(t))
      PerfbenchBridge.drainListenerBus(sc)
      blockPeak = t.blockBytesPeak
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      traced = Seq(tracedPass, runPass("untraced", "untraced", None))
      val (texts, vectors) = w.kernelRows()
      kernels = Kernels.measure(texts, vectors, secondsEach = 0.15)
    }

    val result = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "cores" -> cores,
      "start_ms" -> a.startMs,
      "session_ready_ms" -> sessionReadyMs,
      "inputs_ready_ms" -> inputsReadyMs,
      "first_timed_ms" -> firstTimedMs,
      "attempted" -> attempted,
      "peak_rss_mb" -> peakRssMb(),
      "conf" -> spark.conf.getAll,
      "inputs" -> w.describe.toMap,
      "oracles" -> graft.SparkEntry.oracleSql,
      "passes" -> (Seq(checkPass) ++ timed ++ traced).map(passJson),
      "kernels" -> kernels.toMap,
      "block_bytes_peak" -> blockPeak)
    Files.writeString(Paths.get(s"${a.work}/result.json"),
      Serialization.write(result)(DefaultFormats))
  }

  private def passJson(p: PassRecord): Map[String, Any] = Map(
    "id" -> p.id,
    "kind" -> p.kind,
    "start_ms" -> p.startMs,
    "wall_s" -> p.wallS,
    "extra" -> p.extra,
    "ops" -> p.ops.map { o =>
      Map(
        "name" -> o.name,
        "start_ms" -> o.startMs,
        "wall_s" -> o.wallS,
        "spans" -> o.phases.spans.map { case (l, s, d) =>
          Map("label" -> l, "start_ms" -> s, "dur_s" -> d)
        },
        "dumps" -> o.dumps.map(d => Map("op" -> d.op, "path" -> d.path, "inputs" -> d.inputs))
      ) ++ o.error.map("error" -> _) ++ o.stats.toSeq.flatMap(st =>
        Seq("stats" -> st.fields.toMap, "block_bytes_after" -> o.blockBytesAfter))
    })

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Total size and count of the files under `dir`. */
  def dirSize(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(p => p.getFileName.toString.startsWith(".")).toSeq
      (files.map(Files.size(_: Path)).sum, files.size.toLong)
    }
  }

  // --------------------------------------------------------------- workloads

  abstract class Workload {
    def passOps(passId: String): Seq[Op]
    def afterPass(passId: String): Map[String, Double] = Map.empty
    def describe: Seq[(String, Double)]
    def kernelRows(): (Seq[String], Seq[Array[Float]])
  }

  /** A declared query, through the program's public entry point. */
  final class QueryOp(name: String, spark: SparkSession, inputs: String,
      dumpDir: String) extends Op(name) {
    private val q = graft.SparkEntry.queries(name)
    def run(ph: Phases): Unit = {
      val df = ph("build")(q(spark, inputs))
      ph("exec")(df.write.mode("overwrite").format("noop").save())
    }
    override def check(ph: Phases): Seq[Dump] = {
      val path = s"$dumpDir/$name"
      ph("check")(q(spark, inputs).coalesce(1).write.mode("overwrite").parquet(path))
      Seq(Dump(name, path, inputs))
    }
  }

  object Workloads {
    val opCapMs = 90000L

    /** activity_sql: star-schema (a-g) and customer-activity event
      * analytics (h). A fixed sample, not the whole range: each query costs
      * about half a second of planning and scheduling whatever the data
      * size, so the range would not fit a run. c1-c4 are left out because
      * they write outside the checkout. */
    val activityQueries = Seq("a1", "d6", "e6", "e8", "f3", "h4", "h40", "h89")

    /** llm_corpus: the composed curation pipeline (h122, below), whose
      * stages cover the dedup family, plus the standalone IVF ANN query. */
    val llmQueries = Seq("h15")

    val curationOp = "h122_curation_pipeline"

    val flows = Seq("ingestTransactions", "ingestCustomers", "ingestProducts",
      "curateFact", "curateCustomerDim", "curateProductDim")

    /** lakehouse_etl input: generated transactions, customers, products. */
    val etlTransactions = 30000L
    /** The check pass runs the flows over this many transactions: enough to
      * warm every code path of the timed pass at a fraction of its cost. */
    val etlWarmTransactions = 50L
    val etlCustomers = 2000L
    val etlProducts = 500L
    val badTsEvery = 997L
    val nullSegmentEvery = 13L

    private def fullNames(short: Seq[String]): Seq[String] = {
      val names = graft.SparkEntry.queries.keys.toSeq
      short.map(s => names.find(_.takeWhile(_ != '_') == s)
        .getOrElse(sys.error(s"no declared query $s")))
    }

    def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
      case "activity_sql" => new QueryWorkload(spark, a, fullNames(activityQueries), curation = false)
      case "llm_corpus" => new QueryWorkload(spark, a, fullNames(llmQueries), curation = true)
      case "lakehouse_etl" => new EtlWorkload(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
  }

  private def kernelRowsFrom(spark: SparkSession, inputs: String): (Seq[String], Seq[Array[Float]]) = {
    val texts = spark.read.parquet(s"$inputs/documents.parquet")
      .orderBy("doc_id").limit(500).select("text").collect().map(_.getString(0)).toSeq
    val vecs = spark.read.parquet(s"$inputs/embeddings.parquet")
      .orderBy("vec_id").limit(500).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    (texts, vecs)
  }

  final class QueryWorkload(spark: SparkSession, a: Args, queries: Seq[String],
      curation: Boolean) extends Workload {
    private val dumpDir = s"${a.work}/check"
    private val queryOps = queries.map(new QueryOp(_, spark, a.inputs, dumpDir))

    /** h122 as `Pipeline.curate` with h122's arguments: the call builds
      * every stage and the audit ledger, then the audit and the export
      * manifest are each written to the noop sink. It has no check-pass
      * run: its audit is a literal relation, so every timed run's output
      * is dumped after the pass and checked, for free. */
    private final class CurationOp extends Op(Workloads.curationOp) {
      private var lastAudit: Option[DataFrame] = None
      def run(ph: Phases): Unit = {
        val r = ph("build")(graft.extensions.Pipeline.curate(
          graft.Tables.documents(spark, a.inputs), "doc_id", "text", "source",
          toks => size(filter(toks, t => t === "spark")) >= 2, steps = 8))
        val audit = r.audit.orderBy("stage_idx")
        ph("exec")(audit.write.mode("overwrite").format("noop").save())
        ph("export")(r.manifest.write.mode("overwrite").format("noop").save())
        lastAudit = Some(audit)
      }
      override def dumpAfter(passId: String, ph: Phases): Seq[Dump] = {
        val dumps = lastAudit.toSeq.map { audit =>
          val path = s"$dumpDir/${name}_$passId"
          ph("check")(audit.coalesce(1).write.mode("overwrite").parquet(path))
          Dump(name, path, a.inputs)
        }
        lastAudit = None
        dumps
      }
    }

    private val curationOp = if (curation) Some(new CurationOp) else None

    def passOps(passId: String): Seq[Op] = curationOp.toSeq ++ queryOps

    def describe: Seq[(String, Double)] = Seq(
      "documents" -> spark.read.parquet(s"${a.inputs}/documents.parquet").count().toDouble,
      "lineitem" -> spark.read.parquet(s"${a.inputs}/lineitem.parquet").count().toDouble,
      "events" -> spark.read.parquet(s"${a.inputs}/events.parquet").count().toDouble)

    def kernelRows(): (Seq[String], Seq[Array[Float]]) = kernelRowsFrom(spark, a.inputs)
  }

  /** lakehouse_etl: the reference's daily job. Set-up writes seeded CSV
    * with the program's generators; each pass runs the six flows of
    * `Lakehouse.masterFlow` one by one, with their defaults, into a fresh
    * lakehouse root. */
  final class EtlWorkload(spark: SparkSession, a: Args) extends Workload {
    import Workloads._
    private val csv = s"${a.work}/csv"
    private val txnCsv = s"$csv/customer_transactions"
    private val warmCsv = s"${a.work}/csv_warm/customer_transactions"
    private val custCsv = s"$csv/customers"
    private val prodCsv = s"$csv/products"

    Generators.writeCsv(Generators.transactions(spark, etlTransactions, a.seed, badTsEvery), txnCsv)
    Generators.writeCsv(Generators.transactions(spark, etlWarmTransactions, a.seed, badTsEvery), warmCsv)
    Generators.writeCsv(Generators.customers(spark, etlCustomers, a.seed,
      nullSegEvery = nullSegmentEvery), custCsv)
    Generators.writeCsv(Generators.products(spark, etlProducts, a.seed), prodCsv)
    private val inputBytes = dirSize(csv)._1.toDouble

    private def root(passId: String) = s"${a.work}/lake/$passId"

    private final class FlowOp(name: String, body: () => Unit) extends Op(name) {
      def run(ph: Phases): Unit = ph("flow")(body())
      override def check(ph: Phases): Seq[Dump] = { run(ph); Seq.empty }
    }

    def passOps(passId: String): Seq[Op] = {
      Lakehouse.configure(spark)
      val z = Lakehouse.ensureZones(root(passId))
      Seq(
        new FlowOp(flows(0), () => Ingest.ingestTransactions(spark,
          if (passId == "check") warmCsv else txnCsv, z.rawTransactions)),
        new FlowOp(flows(1), () => Ingest.ingestCustomers(spark, custCsv, z.rawCustomers)),
        new FlowOp(flows(2), () => Ingest.ingestProducts(spark, prodCsv, z.rawProducts)),
        new FlowOp(flows(3), () => Curate.curateFact(spark, z.rawTransactions, z.curatedFact)),
        new FlowOp(flows(4), () => Curate.curateCustomerDim(spark, z.rawCustomers, z.curatedCustomerDim)),
        new FlowOp(flows(5), () => Curate.curateProductDim(spark, z.rawProducts, z.curatedProductDim)))
    }

    override def afterPass(passId: String): Map[String, Double] = {
      val (bytes, files) = dirSize(root(passId))
      Map("bytes_written" -> bytes.toDouble, "files_written" -> files.toDouble,
        "input_bytes" -> inputBytes)
    }

    def describe: Seq[(String, Double)] = Seq(
      "transactions" -> etlTransactions.toDouble, "customers" -> etlCustomers.toDouble,
      "products" -> etlProducts.toDouble, "bad_ts_every" -> badTsEvery.toDouble,
      "null_segment_every" -> nullSegmentEvery.toDouble, "input_bytes" -> inputBytes)

    def kernelRows(): (Seq[String], Seq[Array[Float]]) = kernelRowsFrom(spark, a.inputs)
  }
}
