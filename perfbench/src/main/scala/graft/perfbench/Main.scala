package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.{Sessions, SparkEntry}
import graft.observe.Prometheus
import graft.operators.TextOps
import graft.sinks.VersionedStore
import graft.sources.Tables
import graft.streaming.{StreamPrep, WeatherPipeline}

/** The benchmark's engine side. `run.py` builds the inputs and a config
  * file, starts this JVM once per run, and turns what it writes into
  * metrics and output checks. It drives the engine through its public
  * entry points only, from one client thread, and times every call into
  * a layer from outside.
  *
  *   java graft.perfbench.Main <config.json>         one workload run
  *   java graft.perfbench.Main --oracle-sql <out>    SparkEntry.oracleSql
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    if (args(0) == "--oracle-sql") {
      json.writeValue(new File(args(1)), SparkEntry.oracleSql)
      return
    }
    val cfg = json.readTree(new File(args(0)))
    val work = cfg.get("work_dir").asText()
    val result = mutable.LinkedHashMap.empty[String, Any]
    val tracer = new Tracer
    val traced = cfg.get("trace").asInt() == 1
    val warehouse = new File(work, "warehouse").getAbsolutePath
    // a fresh artifact warehouse per run: artifact builds land in set-up
    System.setProperty("spark.sql.warehouse.dir", warehouse)
    val t0 = tracer.now()
    val (spark, _) = tracer.span(0, "session", "") {
      Sessions.local(cpus = cfg.get("cpus").asText(), appName = "graft-perfbench")
    }
    val listener =
      if (traced) Some(LayerListener.install(spark, tracer, warehouse)) else None
    val ctx = Ctx(spark, cfg, tracer, listener, t0, result)
    try {
      cfg.get("workload").asText() match {
        case "ingest" => Ingest.run(ctx)
        case _ => QueryLoop.run(ctx)
      }
      result("builds") = VersionedStore.buildEvents().map { case (n, s) => Seq(n, s) }
      result("warehouse_bytes") = du(new File(warehouse))
      result("ring_events") =
        graft.observe.Metrics.batchSnapshot.size + graft.observe.Metrics.streamSnapshot.size
      result("spans") = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "op" -> s.op, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
      val out = Paths.get(cfg.get("out").asText())
      val tmp = Paths.get(out.toString + ".tmp")
      json.writeValue(tmp.toFile, result)
      Files.move(tmp, out, StandardCopyOption.REPLACE_EXISTING)
    } finally spark.stop()
  }

  final case class Ctx(spark: SparkSession, cfg: JsonNode, tracer: Tracer,
      listener: Option[LayerListener], t0: Long,
      result: mutable.LinkedHashMap[String, Any]) {
    def sfDir: String = cfg.get("data_dir").asText()
    def work: String = cfg.get("work_dir").asText()
    def seconds: Double = cfg.get("seconds").asDouble()

    /** Close one operation in a traced run: wait for the listener bus so
      * all of its events are in, then hang them under `execSpan`.
      */
    def settle(execSpan: Long, op: String): Map[String, Double] = listener match {
      case Some(l) =>
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        l.take(execSpan, op)
      case None => Map.empty
    }
  }

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  /** A collected result as JSON-ready values: numbers stay numbers,
    * timestamps become epoch microseconds, decimals become strings.
    */
  def cell(v: Any): Any = v match {
    case null => null
    case r: Row => r.toSeq.map(cell)
    case s: scala.collection.Seq[_] => s.map(cell)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
    case t: java.time.LocalDateTime =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => d.toEpochDay * 86400000000L
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case x => x
  }

  def output(df: DataFrame, rows: Array[Row]): Map[String, Any] = Map(
    "columns" -> df.schema.fields.map(_.name).toSeq,
    "types" -> df.schema.fields.map(_.dataType.simpleString).toSeq,
    "rows" -> rows.toSeq.map(r => r.toSeq.map(cell)))

  def writeJson(path: String, v: Any): Unit = json.writeValue(new File(path), v)

  /** Between set-up and a timed phase: collect the garbage the previous
    * phase left, so a timed window does not pay for it at a point that
    * differs from run to run.
    */
  def quiesce(): Unit = { System.gc(); Thread.sleep(200) }
}

/** `corpus`: one client runs the pinned queries back to back. Set-up
  * ends with `warm_passes` untimed passes (the first, in pinned order,
  * builds every artifact the queries need); then whole passes, each in a
  * seeded order, run until `seconds` have passed and at least
  * `min_rounds` passes are done.
  */
object QueryLoop {
  import Main._

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val names = (0 until c.cfg.get("queries").size()).map(i => c.cfg.get("queries").get(i).asText())
    val registry = SparkEntry.queries
    val warm = mutable.Map.empty[String, Array[Row]]
    val warmOut = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val prom = mutable.ArrayBuffer.empty[Map[String, Any]]
    var lastCounters = Map.empty[String, Double]

    /** One render after an operation, outside its timed window: any
      * `counter` series reading lower than in the previous render is a
      * broken counter.
      */
    def render(): (Double, Seq[String]) = {
      val t0 = System.nanoTime()
      val text = Prometheus.render()
      val ms = (System.nanoTime() - t0) / 1e6
      val counterFamilies = text.linesIterator.collect {
        case l if l.startsWith("# TYPE ") && l.endsWith(" counter") => l.split(" ")(2)
      }.toSet
      val now = text.linesIterator.filterNot(_.startsWith("#")).flatMap { l =>
        val i = l.lastIndexOf(' ')
        val series = l.substring(0, i)
        val family = series.takeWhile(_ != '{')
        if (counterFamilies(family)) Some(series -> l.substring(i + 1).toDouble) else None
      }.toMap
      val down = now.collect {
        case (s, v) if lastCounters.get(s).exists(_ > v) => s"$s ${lastCounters(s)} -> $v"
      }.toSeq
      lastCounters = now
      (ms, down)
    }

    def execute(name: String, pass: Int): Unit = {
      val fn = registry.get(name)
      val t0 = c.tracer.now()
      var buildEnd = t0
      var err: Option[String] = None
      var rows: Array[Row] = null
      var df: DataFrame = null
      spark.sparkContext.setJobDescription(name)
      try {
        df = fn.getOrElse(throw new NoSuchElementException(
          s"query $name is not in SparkEntry.queries"))(spark, c.sfDir)
        buildEnd = c.tracer.now()
        rows = df.collect()
      } catch {
        case t: Throwable =>
          err = Some((t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300))
      }
      val end = c.tracer.now()
      if (err.isEmpty && buildEnd == t0) buildEnd = end
      val opSpan = c.tracer.add(0, "op", name, t0, end, Map("pass" -> pass.toDouble))
      c.tracer.add(opSpan, "build", name, t0, buildEnd)
      val execSpan = c.tracer.add(opSpan, "exec", name, buildEnd, end)
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))
      val counters = c.settle(execSpan, name)
      if (counters.nonEmpty) c.tracer.add(execSpan, "counters", name, end, end, counters)
      System.err.println(f"[perfbench] pass $pass%d $name%s ${(end - t0) / 1e6}%.1f ms" +
        err.map(e => s" FAILED $e").getOrElse(""))
      if (pass == -1) {
        err match {
          case Some(e) => errors(name) = e
          case None => warm(name) = rows; warmOut(name) = output(df, rows)
        }
      } else if (pass >= 0) {
        val ok = err.isEmpty && warm.get(name).exists(_.sameElements(rows))
        val why = err.orElse(if (ok) None else if (!warm.contains(name))
          Some("no verified warm-up output") else Some("output differs from the warm-up pass"))
        ops += Map("op" -> name, "pass" -> pass, "start" -> t0, "end" -> end,
          "ok" -> ok, "err" -> why.orNull)
        val (ms, down) = render()
        c.tracer.add(opSpan, "render", name, end, end + (ms * 1e6).toLong)
        prom += Map("pass" -> pass, "decreases" -> down)
      }
    }

    // warm-up: the first pass (pinned order) builds every artifact and
    // its outputs are the ones checked against the oracle; later warm
    // passes only let compilation settle
    names.foreach(execute(_, -1))
    (1 until c.cfg.get("warm_passes").asInt()).foreach(_ => names.foreach(execute(_, -2)))
    // Wrap the engine's 1024-event metrics ring before timing starts, as
    // a long-lived session would have: feed the engine's own batch
    // listener `ring_probe` one-millisecond `count` actions (a thousand
    // real actions would take minutes of planning). From then on each
    // query's actions evict probe events, and the ring-summed `count`
    // counters (`graft_batch_actions_total`, `..._duration_ms_sum`) drop.
    val probeQe = spark.sql("SELECT 1").queryExecution
    val probe = new graft.observe.Metrics.GraftBatchListener
    (0 until c.cfg.get("ring_probe").asInt()).foreach(_ => probe.onSuccess("count", probeQe, 1000000L))
    quiesce()
    val setupEnd = c.tracer.now()
    render()
    val rnd = new scala.util.Random(c.cfg.get("seed").asLong())
    val minRounds = c.cfg.get("min_rounds").asInt()
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    while (pass < minRounds || (c.tracer.now() - setupEnd) / 1e9 < c.seconds) {
      val p0 = c.tracer.now()
      rnd.shuffle(names).foreach(execute(_, pass))
      rounds += Map("pass" -> pass, "start" -> p0, "end" -> c.tracer.now())
      pass += 1
    }
    // the serve layer's pointer resolution, timed per artifact base
    if (c.listener.isDefined)
      Option(new File(c.work, "warehouse").listFiles()).toSeq.flatten
        .filter(d => new File(d, "LATEST").exists()).foreach { d =>
          c.tracer.span(0, "resolve", d.getName)(VersionedStore.resolve(spark, d.getAbsolutePath))
        }
    writeJson(s"${c.work}/outputs.json", warmOut)
    c.result ++= Seq("setup_s" -> (setupEnd - c.t0) / 1e9, "warm_errors" -> errors,
      "ops" -> ops, "rounds" -> rounds, "prometheus" -> prom)
  }
}

/** `ingest`: the two streaming phases, prep first, so the weather phase
  * runs in a JVM whose Spark paths are already compiled.
  *
  * Weather: seeded Schema-A records go through `WeatherPipeline`'s
  * single-read fan-out into its enriched and alerts sinks. A generator
  * thread offers them open-loop at a fixed rate, one file per tick, and
  * each record's latency runs from its tick's due time to the commit of
  * the micro-batch that carried it. Then fixed backlog bursts land at
  * once, one after another, and each is drained.
  *
  * Prep: the documents plus e2e4's planted copies are replayed through
  * `StreamPrep` in ascending-doc_id micro-batches, with a
  * `StreamPrep.fold` every `fold_every` batches.
  */
object Ingest {
  import Main._

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val w = c.cfg.get("weather")
    val records = Files.readAllLines(Paths.get(w.get("records_file").asText()), UTF_8)
    val perTick = w.get("per_tick").asInt()
    val tickMs = w.get("tick_ms").asInt()
    val warmTicks = w.get("warm_ticks").asInt()
    val backlog = w.get("backlog").asInt()
    val inDir = s"${c.work}/weather_in"
    val stage = s"${c.work}/weather_stage"
    Seq(inDir, stage).foreach(d => new File(d).mkdirs())

    // commit times: a progress event arrives after its batch commits
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        progress.add(Map("query" -> p.id.toString, "batch" -> p.batchId,
          "rows" -> p.numInputRows, "commit" -> c.tracer.now(),
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
    })
    var next = 0
    /** Offer the next `n` records as one file (written aside, then
      * renamed in, so the source never lists a partial file). */
    def offer(n: Int, tick: Int): Unit = {
      val f = s"tick_${"%06d".format(tick)}.json"
      val body = records.subList(next, next + n)
      Files.write(Paths.get(stage, f), String.join("\n", body).getBytes(UTF_8))
      Files.move(Paths.get(stage, f), Paths.get(inDir, f), StandardCopyOption.ATOMIC_MOVE)
      next += n
    }
    val raw = spark.readStream.format("text").load(inDir)
    val q = WeatherPipeline.startForeachBatch(raw, s"${c.work}/weather_out",
      s"${c.work}/weather_cp", Trigger.ProcessingTime(0))
    // warm-up: ticks at the offered pace before the timed window, so the
    // first timed batches do not pay for the first compilations
    (0 until warmTicks).foreach { t => offer(perTick, t); Thread.sleep(tickMs) }
    q.processAllAvailable()

    // prep's inputs are built in set-up too: the corpus replay order and
    // the bench-window fixture StreamPrep screens against
    val docs = Tables.documents(spark, c.sfDir).select("doc_id", "text")
    val plants = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" qq"), col("doc_id").cast("string"),
          lit("x0 qq"), col("doc_id").cast("string"), lit("x1")).as("text"))
    val corpus = TextOps.withDupes(docs).unionByName(plants).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val sp = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bw = TextOps.d7bBenchWindows(TextOps.d7bBenchFixture(sp)).localCheckpoint()
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // one untimed batch through a throw-away store compiles the chain
    locally {
      val in = MemoryStream[(Long, String)]
      val warm = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw,
        s"${c.work}/prep_warm_store", s"${c.work}/prep_warm_cp")
      in.addData(corpus.take(c.cfg.get("prep").get("warm_docs").asInt()).toSeq: _*)
      warm.processAllAvailable()
      warm.stop()
    }
    quiesce()
    val setupEnd = c.tracer.now()

    // ---- prep ------------------------------------------------------------
    val batch = c.cfg.get("prep").get("batch").asInt()
    val foldEvery = c.cfg.get("prep").get("fold_every").asInt()
    val store = s"${c.work}/prep_store"
    val in = MemoryStream[(Long, String)]
    val pq = StreamPrep.start(in.toDF().toDF("doc_id", "text"), bw, store, s"${c.work}/prep_cp")
    val p0 = c.tracer.now()
    val prepRound = c.tracer.add(0, "prep", "prep", p0, p0)
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val folds = mutable.ArrayBuffer.empty[Map[String, Any]]
    corpus.grouped(batch).zipWithIndex.foreach { case (chunk, i) =>
      val t0 = c.tracer.now()
      in.addData(chunk.toSeq: _*)
      pq.processAllAvailable()
      val t1 = c.tracer.now()
      val sid = c.tracer.add(prepRound, "prep_batch", s"b$i", t0, t1)
      val counters = c.settle(sid, s"b$i")
      val r0 = c.tracer.now()
      Prometheus.render()
      c.tracer.add(sid, "render", s"b$i", r0, c.tracer.now())
      batches += Map("start" -> t0, "end" -> t1, "docs" -> chunk.length, "counters" -> counters)
      if ((i + 1) % foldEvery == 0) {
        val deltas = Option(new File(store).listFiles()).map(_.count(_.getName.matches(".*_b\\d+"))).getOrElse(0)
        val f0 = c.tracer.now()
        val folded = StreamPrep.fold(spark, store)
        val f1 = c.tracer.now()
        c.tracer.add(prepRound, "fold", s"b$i", f0, f1)
        c.settle(sid, s"b$i")
        folds += Map("start" -> f0, "end" -> f1, "folded" -> folded, "delta_dirs" -> deltas)
      }
    }
    val p1 = c.tracer.now()
    pq.stop()
    quiesce()

    // ---- weather, open loop --------------------------------------------
    val ticks = math.max(1, (c.seconds * 1000 / tickMs).toInt)
    val offered = mutable.ArrayBuffer.empty[Map[String, Any]]
    val gen = new Thread(() => {
      val start = c.tracer.now()
      for (k <- 0 until ticks) {
        val due = start + k.toLong * tickMs * 1000000L
        val wait = due - c.tracer.now()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val first = next
        offer(perTick, warmTicks + k)
        offered += Map("first" -> first, "n" -> perTick, "due" -> due, "sent" -> c.tracer.now())
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    // ---- weather, backlog drain: bursts landed at once -----------------
    val bursts = (0 until w.get("bursts").asInt()).map { i =>
      val first = next
      val b0 = c.tracer.now()
      offer(backlog, warmTicks + ticks + i)
      q.processAllAvailable()
      Map("first" -> first, "n" -> backlog, "start" -> b0, "end" -> c.tracer.now())
    }
    q.stop()
    val weatherSpan = c.tracer.add(0, "weather", "weather", p1, c.tracer.now())
    c.settle(weatherSpan, "weather")

    val manifest = StreamPrep.manifest(spark, store).orderBy("doc_id")
    writeJson(s"${c.work}/manifest.json", output(manifest, manifest.collect()))

    c.result ++= Seq(
      "setup_s" -> (setupEnd - c.t0) / 1e9,
      "weather" -> Map("query" -> q.id.toString, "offered" -> offered, "warm_records" -> warmTicks * perTick,
        "bursts" -> bursts, "total" -> next,
        "progress" -> scala.jdk.CollectionConverters.CollectionHasAsScala(progress).asScala.toSeq),
      "prep" -> Map("start" -> p0, "end" -> p1, "docs" -> corpus.length,
        "batches" -> batches, "folds" -> folds, "store_bytes" -> du(new File(store))))
  }
}
