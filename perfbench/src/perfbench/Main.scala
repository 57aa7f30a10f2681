package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.graph.{GremlinParser, PropertyGraph}
import graft.sources.{GraphStorage, TxTable}

/** The JVM half of the benchmark: set-up, the timed closed loop of one
  * workload, and the raw record of what happened. `run.py` builds the
  * inputs, starts this main, checks the outputs and prints the metrics.
  *
  * Usage: perfbench.Main key=value ... with keys
  *   workload  batch | interactive
  *   data      directory of the input parquet tables
  *   out       directory for results, outputs and the trace
  *   work      scratch directory (warehouse, checkpoints, spill)
  *   seconds   interactive: sets the number of request blocks
  *   trace     0 or 1
  *   cpus      local[cpus]
  *   jobs      batch: catalog entries in run order
  *   stream    interactive: the request stream file
  *   warm      interactive: request blocks run during set-up
  */
object Main {

  final case class Op(kind: String, name: String, ms: Double, traced: Boolean,
                      error: Boolean = false)

  /** Per-unit records of the traced run. A unit is one batch job or one
    * interactive request.
    */
  final case class UnitRec(id: Int, span: Int, plans: Seq[PlanRec])

  def main(argv: Array[String]): Unit = {
    val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val data = args("data")
    val out = Paths.get(args("out"))
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args.getOrElse("cpus", "4").toInt
    Files.createDirectories(out)

    val bench = workload match {
      case "batch" => new Batch(args("jobs").split(',').toSeq, data, work, out)
      case "interactive" =>
        new Interactive(Stream.read(args("stream")), args("warm").toInt, data, work, out,
          buckets = cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: from JVM start until the first timed operation
    val spark = Session.build(cpus, work)
    val tracer = new Tracer(spark)
    val p0 = System.nanoTime()
    bench.prepare(spark, tracer)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
    println(f"set-up $setupS%.2f s, of which the workload's own $prepareS%.2f s")

    val loopStart = System.nanoTime()
    val ops = bench.loop(spark, tracer, seconds, traced)
    val loopS = (System.nanoTime() - loopStart) / 1e9
    tracer.disable()
    val extra = bench.finish(spark)
    spark.stop()

    val result = Map[String, Any](
      "workload" -> workload, "setup_s" -> setupS, "prepare_s" -> prepareS,
      "loop_s" -> loopS, "peak_rss_mb" -> Host.peakRssMb(), "cores" -> cpus,
      "ops" -> (bench.warm ++ ops).map(o => Map("kind" -> o.kind, "name" -> o.name,
        "ms" -> o.ms, "traced" -> o.traced, "error" -> o.error))) ++ extra ++
      (if (traced) TraceDump.fields(tracer, bench.units.toSeq) else Map.empty)
    Files.writeString(out.resolve("result.json"), Json.write(result))
  }
}

/** The session every workload runs in: Bench's settings at local[cpus],
  * with all files under the run's work directory.
  */
object Session {
  def build(cpus: Int, work: String): SparkSession = {
    val kryo = new org.apache.spark.SparkConf()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    org.apache.spark.graphx.GraphXUtils.registerKryoClasses(kryo)
    val spark = SparkSession.builder().config(kryo)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/ckpt")
    spark
  }
}

object Host {
  /** the JVM's peak resident set (VmHWM) */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}

/** What both workload kinds provide to Main. */
trait Workload {
  val units = mutable.ArrayBuffer[Main.UnitRec]()
  /** operations of the set-up whose outputs are checked; not timed */
  val warm = mutable.ArrayBuffer[Main.Op]()
  /** The workload's set-up, once, before the timed loop. */
  def prepare(spark: SparkSession, tracer: Tracer): Unit
  def loop(spark: SparkSession, tracer: Tracer, seconds: Double,
           traced: Boolean): Seq[Main.Op]
  def finish(spark: SparkSession): Seq[(String, Any)] = Nil

  protected def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run one operation; an exception becomes a failed operation. */
  protected def guarded(kind: String, name: String, traced: Boolean)
                       (op: => Seq[Main.Op]): Seq[Main.Op] = {
    val t0 = System.nanoTime()
    try op
    catch {
      case NonFatal(e) =>
        System.err.println(s"$kind $name failed: $e")
        Seq(Main.Op(kind, name, ms(t0), traced, error = true))
    }
  }

  /** Run one unit of work. With tracing on, the unit is the root span of
    * a new trace and keeps the records of the actions it ran.
    */
  protected def unit[T](tracer: Tracer, name: String)(body: => T): T =
    if (!tracer.enabled) body
    else {
      tracer.newTrace()
      val spanId = tracer.spans.size
      val res = tracer.span(name)(body)
      tracer.flush()
      units += Main.UnitRec(units.size, spanId, tracer.plans.drain())
      res
    }
}

/** `batch`: one pass over catalog entries in a fresh session. Each call
  * is one action, as graft.Verify makes it: the entry's result written as
  * one parquet file, which the output check then reads.
  */
final class Batch(jobs: Seq[String], data: String, work: String, out: Path)
    extends Workload {
  private val oracle = mutable.LinkedHashMap[String, String]()

  /** One shuffle join and aggregate over the inputs, written as parquet
    * the way every timed call writes, so the first timed call does not pay
    * alone for starting Spark's job, codegen and output machinery.
    */
  def prepare(spark: SparkSession, tracer: Tracer): Unit = {
    def t(name: String) = spark.read.parquet(s"$data/$name.parquet")
    t("lineitem").join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum("l_quantity"), countDistinct("l_partkey"), count(lit(1)))
      .coalesce(1).write.mode("overwrite").parquet(s"$work/warm")
  }

  def loop(spark: SparkSession, tracer: Tracer, seconds: Double,
           traced: Boolean): Seq[Main.Op] = {
    val ops = mutable.ArrayBuffer[Main.Op]()
    def run(job: String, call: String, on: Boolean): Unit = {
      if (on) tracer.enable() else tracer.disable()
      ops ++= guarded("job", job, on)(Seq(runJob(spark, tracer, job, call, on)))
    }
    // exactly one pass, whatever `seconds` is. A traced run makes that
    // pass untraced, then calls every job untraced and traced in
    // alternating order: the pairs give the tracing overhead, free of
    // first-call costs.
    jobs.foreach(job => run(job, job, on = false))
    if (traced) {
      ops.mapInPlace(_.copy(kind = "warm"))
      jobs.zipWithIndex.foreach { case (job, j) =>
        val first = j % 2 == 1
        run(job, s"${job}__${if (first) "on" else "off"}", first)
        run(job, s"${job}__${if (first) "off" else "on"}", !first)
      }
    }
    tracer.disable()
    Json.writeFile(out.resolve("verify/oracle_sql.json"), oracle.toMap)
    ops.toSeq
  }

  private def runJob(spark: SparkSession, tracer: Tracer, job: String, call: String,
                     on: Boolean): Main.Op = {
    val t0 = System.nanoTime()
    unit(tracer, s"job:$job") {
      if (tracer.enabled && job.startsWith("a_"))
        tracer.span("graph.build") { PropertyGraph.fromTpch(spark, data) }
      val df = tracer.span("entry.call") { SparkEntry.queries(job)(spark, data) }
      tracer.span("exec.write") {
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve(s"verify/$call").toString)
      }
    }
    SparkEntry.oracleSql.get(job).foreach(sql => oracle(call) = sql)
    Main.Op("job", job, ms(t0), on)
  }
}

/** The interactive request stream, as written by gen.py. */
final case class Request(kind: String, arg: String, block: Int)
final case class Stream(requests: Seq[Request], orders: Map[Int, Seq[Row]],
                        lines: Map[Int, Seq[Row]])

object Stream {
  def read(path: String): Stream = {
    val reqs = mutable.ArrayBuffer[Request]()
    val orders = mutable.Map[Int, mutable.ArrayBuffer[Row]]()
    val lines = mutable.Map[Int, mutable.ArrayBuffer[Row]]()
    var block = -1
    Files.readAllLines(Paths.get(path)).asScala.foreach { l =>
      val f = l.split("\t", -1)
      f(0) match {
        case "B" => block = f(1).toInt
        case "R" => reqs += Request(f(1), f(2), block)
        case "P" => reqs += Request("order_point", f(1), block)
        case "W" => reqs += Request("write", f(1), block)
        case "O" => orders.getOrElseUpdate(f(1).toInt, mutable.ArrayBuffer()) +=
          Row(f(2).toLong, f(3).toLong, f(4), f(5).toDouble,
            java.sql.Timestamp.valueOf(f(6) + " 00:00:00"), f(7))
        case "L" => lines.getOrElseUpdate(f(1).toInt, mutable.ArrayBuffer()) +=
          Row(f(2).toLong, f(3).toLong, f(4).toInt, f(5).toDouble, f(6).toDouble,
            f(7).toDouble)
      }
    }
    Stream(reqs.toSeq, orders.map(kv => kv._1 -> kv._2.toSeq).toMap,
      lines.map(kv => kv._1 -> kv._2.toSeq).toMap)
  }

  val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val lineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType)))
}

object Interactive {
  /** `seconds` buys one timed block per this many seconds: eight at 24 s */
  val BlockSeconds = 3.0
}

/** `interactive`: a closed loop of Gremlin reads, TxTable point reads and
  * write batches against a graph stored during set-up.
  */
final class Interactive(stream: Stream, warmBlocks: Int, data: String, work: String,
                        out: Path, buckets: Int) extends Workload {
  private val prefix = "bench_graph"
  private val txRoot = s"$work/tx/orders"
  private val results = new StringBuilder
  private var applied = 0
  private var bytesWritten = 0L
  private var userBytes = 0L
  private var saveGraphS = 0.0

  /** Store the graph, create the transactional table, and run the first
    * `warmBlocks` blocks of the stream, untraced, so that the timed
    * blocks find the JVM's compiled code warm. The warm blocks' reads
    * are checked like the timed ones.
    */
  def prepare(spark: SparkSession, tracer: Tracer): Unit = {
    val t0 = System.nanoTime()
    // one bucket per core: GraphStorage sizes buckets to the cluster
    GraphStorage.saveGraph(spark, PropertyGraph.fromTpch(spark, data), prefix, buckets)
    saveGraphS = (System.nanoTime() - t0) / 1e9
    TxTable.init(spark, txRoot, spark.read.parquet(s"$data/orders.parquet"))
    stream.requests.takeWhile(_.block < warmBlocks).foreach { r =>
      warm += request(spark, tracer, r).copy(kind = "warm")
    }
  }

  def loop(spark: SparkSession, tracer: Tracer, seconds: Double,
           traced: Boolean): Seq[Main.Op] = {
    // a fixed number of blocks for the time given, so that every run
    // does the same work, appended files included
    val blocks = math.max(1, math.ceil(seconds / Interactive.BlockSeconds).toInt)
    val ops = mutable.ArrayBuffer[Main.Op]()
    val kinds = stream.requests.map(_.kind).distinct.sorted
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    stream.requests.dropWhile(_.block < warmBlocks)
      .takeWhile(_.block < warmBlocks + blocks).foreach { r =>
        // traced runs trace every other request of each kind, so each
        // kind has traced and untraced samples to take the overhead from
        val n = seen(r.kind)
        seen(r.kind) = n + 1
        if (traced && (n + kinds.indexOf(r.kind)) % 2 == 0) tracer.enable()
        else tracer.disable()
        ops += request(spark, tracer, r)
      }
    tracer.disable()
    ops.toSeq
  }

  private def request(spark: SparkSession, tracer: Tracer, r: Request): Main.Op = {
    val op = guarded(if (r.kind == "write") "write" else "read", r.kind, tracer.enabled) {
      Seq(if (r.kind == "write") write(spark, tracer, r) else read(spark, tracer, r))
    }.head
    if (op.error && r.kind != "write") results ++= s"${r.kind}\t$applied\tERROR\n"
    op
  }

  private def read(spark: SparkSession, tracer: Tracer, r: Request): Main.Op = {
    val t0 = System.nanoTime()
    val rows = unit(tracer, s"read:${r.kind}") {
      if (r.kind == "order_point") {
        val df = tracer.span("tx.read") {
          TxTable.read(spark, txRoot).filter(col("o_orderkey") === r.arg.toLong)
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority")
        }
        tracer.span("exec.collect") { df.collect() }
      } else {
        val g = tracer.span("storage.load") { GraphStorage.loadGraph(spark, prefix) }
        tracer.span("parser.parse") { GremlinParser.parse(r.arg) }
        val df = tracer.span("traversal.build") { GremlinParser.run(g, r.arg) }
        tracer.span("exec.collect") { df.collect() }
      }
    }
    val took = ms(t0)
    results ++= s"${r.kind}\t$applied\t${Json.write(rows.toSeq.map(_.toSeq))}\n"
    Main.Op("read", r.kind, took, tracer.enabled)
  }

  private def write(spark: SparkSession, tracer: Tracer, r: Request): Main.Op = {
    val b = r.arg.toInt
    val orders = spark.createDataFrame(stream.orders(b).asJava, Stream.orderSchema)
    val lines = spark.createDataFrame(stream.lines(b).asJava, Stream.lineSchema)
    val enc = PropertyGraph.encode _
    val placed = orders.select(enc("customer", col("o_custkey")).as("src"),
      enc("order", col("o_orderkey")).as("dst"), lit("placed").as("label"),
      lit(null).cast("long").as("sort_key"), lit(null).cast("double").as("quantity"),
      lit(null).cast("double").as("extendedprice"), lit(null).cast("double").as("discount"),
      col("o_orderdate").as("orderdate"))
    val contains = lines.select(enc("order", col("l_orderkey")).as("src"),
      enc("part", col("l_partkey")).as("dst"), lit("contains").as("label"),
      col("l_linenumber").cast("long").as("sort_key"), col("l_quantity").as("quantity"),
      col("l_extendedprice").as("extendedprice"), col("l_discount").as("discount"),
      lit(null).cast("timestamp").as("orderdate"))
    val before = if (tracer.enabled) Storage.bytes(work) else 0L
    val t0 = System.nanoTime()
    unit(tracer, "write") {
      tracer.span("tx.commit") { TxTable.upsert(spark, txRoot, orders, Seq("o_orderkey")) }
      tracer.span("storage.append") {
        GraphStorage.appendEdges(spark, prefix, placed.unionByName(contains))
      }
    }
    val took = ms(t0)
    if (tracer.enabled) {
      bytesWritten += Storage.bytes(work) - before
      userBytes += Storage.rowBytes(stream.orders(b) ++ stream.lines(b))
    }
    applied = b + 1
    Main.Op("write", "write", took, tracer.enabled)
  }

  override def finish(spark: SparkSession): Seq[(String, Any)] = {
    Files.writeString(out.resolve("reads.tsv"), results.toString)
    Seq("save_graph_s" -> saveGraphS, "storage_files" -> Storage.files(work),
      "write_bytes" -> bytesWritten, "user_bytes" -> userBytes)
  }
}

object Storage {
  private def walk(work: String): Seq[Path] = {
    val roots = Seq(Paths.get(work, "warehouse"), Paths.get(work, "tx"))
      .filter(Files.isDirectory(_))
    roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** data files of the stored graph and the transactional table */
  def files(work: String): Int = walk(work).count(_.getFileName.toString.endsWith(".parquet"))

  def bytes(work: String): Long = walk(work).map(Files.size).sum

  /** a batch's user data: its rows as delimited text */
  def rowBytes(rows: Seq[Row]): Long =
    rows.map(_.toSeq.map(v => String.valueOf(v)).mkString("\t").length + 1L).sum
}
