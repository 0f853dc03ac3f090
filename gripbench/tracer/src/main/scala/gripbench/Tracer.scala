package gripbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.compiler.Traversal
import graft.gripql.Parser
import graft.model.{Catalog, GraphFrame, MutableGraph}
import graft.server.Wire
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Union}

import java.io.{BufferedWriter, FileWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** In-process replay of a benchmark request stream with spans around each
  * layer. It makes the public calls the REST route handler makes
  * (graft.server.GraftServer) on a session configured like graft.Cli's,
  * so every layer is timed from outside through its public functions:
  *
  *   server.request
  *     gripql.parse      Parser.parse
  *     model.flush       mg.graph while edits are pending
  *     compiler.compile  Traversal.run
  *     plans.optimize    queryExecution.executedPlan (graft Catalyst rules)
  *     exec.first_row    Wire.lines + first row
  *     exec.stream       drain the rest of Wire.lines
  *     model.edit / model.delete / model.get_vertex   MutableGraph calls
  *
  * Spark jobs are attributed to their request through a thread-local
  * property read by a SparkListener. Spans stay in memory until the end.
  *
  *   Tracer <inputDir> <stream.jsonl> <warm.jsonl> <outDir>
  *
  * Stream requests carry their phase and client count; phases replay one
  * after another, each with its own closed loop of clients.
  *
  * Writes spans.jsonl, counters.jsonl, responses.jsonl and summary.json
  * to outDir.
  */
object Tracer {
  private val mapper = new ObjectMapper()
  private val ReqProp = "gripbench.req"

  final case class Span(id: Long, name: String, start: Long, end: Long, parent: Long, req: Int)

  /** Per-request Spark counters, filled by the listener bus thread. */
  final class Counters {
    val jobs, tasks, recordsRead, cpuNs, shuffleBytes, spillBytes, schedWaitMs, gcMs =
      new AtomicLong()
  }

  final class ExecListener extends SparkListener {
    val byReq = new ConcurrentHashMap[Int, Counters]()
    private val stageReq = new ConcurrentHashMap[Int, Int]()
    private val stageSubmitted = new ConcurrentHashMap[Int, Long]()

    private def counters(req: Int) = byReq.computeIfAbsent(req, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(ReqProp))).map(_.toInt).foreach { r =>
        e.stageIds.foreach(s => stageReq.put(s, r))
        counters(r).jobs.incrementAndGet()
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageReq.containsKey(e.stageId)) return
      val c = counters(stageReq.get(e.stageId))
      c.tasks.incrementAndGet()
      val submitted = stageSubmitted.get(e.stageId)
      if (submitted > 0) c.schedWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
      val m = e.taskMetrics
      if (m != null) {
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  /** Spans of one request, recorded by the thread serving it. */
  final class ReqTrace(val req: Int, ids: AtomicLong, sink: java.util.Queue[Span], t0: Long) {
    private var parent = -1L
    def span[T](name: String)(f: => T): T = {
      val id = ids.incrementAndGet()
      val saved = parent
      parent = id
      val s = System.nanoTime()
      try f
      finally {
        sink.add(Span(id, name, s - t0, System.nanoTime() - t0, saved, req))
        parent = saved
      }
    }
  }

  final case class Response(id: Int, status: Int, lines: Seq[String], planNodes: Int)

  def main(args: Array[String]): Unit = {
    val Array(inputDir, streamPath, warmPath, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)

    // model.load_s / model.open_s: what `Cli load` and `Cli server` call
    val catalog = new Catalog(spark, Paths.get(outDir, "graphs").toString)
    var t = System.nanoTime()
    catalog.createGraph("bench", GraphFrame.fromJsonLines(spark,
      s"$inputDir/vertices.jsonl", s"$inputDir/edges.jsonl"))
    val loadS = (System.nanoTime() - t) / 1e9
    t = System.nanoTime()
    val graphs = new ConcurrentHashMap[String, MutableGraph]()
    catalog.listGraphs().foreach(g => graphs.put(g, MutableGraph(spark, catalog.graph(g))))
    val openS = (System.nanoTime() - t) / 1e9

    def readStream(p: String) = Files.readAllLines(Paths.get(p), UTF_8).asScala
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l)).toIndexedSeq
    val stream = readStream(streamPath)
    val warm = readStream(warmPath)

    val pending = ConcurrentHashMap.newKeySet[String]()
    val edited = ConcurrentHashMap.newKeySet[String]()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
    val spanIds = new AtomicLong()
    val t0 = System.nanoTime()

    def graphOf(r: JsonNode) = Option(graphs.get(r.get("graph").asText()))

    def snapshot(name: String, mg: MutableGraph, tr: ReqTrace) =
      if (pending.remove(name)) tr.span("model.flush")(mg.graph) else mg.graph

    def vertexJson(row: org.apache.spark.sql.Row): String = {
      val node = mapper.createObjectNode().put("gid", row.getString(0)).put("label", row.getString(1))
      val data = row.getString(2)
      node.set("data", if (data == null || data.isEmpty) mapper.createObjectNode() else mapper.readTree(data))
      node.toString
    }

    def dataOf(n: JsonNode): String = {
      val v = n.get("data")
      if (v == null || v.isNull) "{}" else if (v.isTextual) v.asText() else v.toString
    }

    def text(n: JsonNode, k: String): String =
      Option(n.get(k)).filterNot(_.isNull).map(_.asText()).orNull

    def edit(mg: MutableGraph, el: JsonNode, isVertex: Boolean): Unit =
      if (isVertex) mg.addVertex(text(el, "gid"), text(el, "label"), dataOf(el))
      else mg.addEdge(text(el, "from"), text(el, "to"), text(el, "label"), dataOf(el), text(el, "gid"))

    def handle(r: JsonNode, tr: ReqTrace): Response = {
      val id = r.get("id").asInt()
      val name = r.get("graph").asText()
      r.get("op").asText() match {
        case "create_graph" =>
          graphs.putIfAbsent(name, MutableGraph.empty(spark))
          Response(id, 200, Nil, 0)
        case "query" => graphOf(r) match {
          case None => Response(id, 404, Nil, 0)
          case Some(mg) =>
            val q = tr.span("gripql.parse")(Parser.parse(r.get("q").asText()))
            val g = snapshot(name, mg, tr)
            val df = tr.span("compiler.compile")(Traversal.run(spark, g, q))
            val nodes = df.queryExecution.analyzed.collect { case p: LogicalPlan => p }.size
            tr.span("plans.optimize")(df.queryExecution.executedPlan)
            val out = ArrayBuffer.empty[String]
            val it = tr.span("exec.first_row") {
              val it = Wire.lines(df, q.stmts.lastOption)
              it.hasNext
              it
            }
            tr.span("exec.stream")(while (it.hasNext) out += it.next())
            Response(id, 200, out.toSeq, nodes)
        }
        case "get_vertex" => graphOf(r) match {
          case None => Response(id, 404, Nil, 0)
          case Some(mg) =>
            snapshot(name, mg, tr)
            tr.span("model.get_vertex")(mg.getVertex(r.get("gid").asText())) match {
              case Some(row) => Response(id, 200, Seq(vertexJson(row)), 0)
              case None => Response(id, 404, Nil, 0)
            }
        }
        case op @ ("add_vertex" | "add_edge") => graphOf(r) match {
          case None => Response(id, 404, Nil, 0)
          case Some(mg) =>
            tr.span("model.edit")(edit(mg, r.get("body"), op == "add_vertex"))
            pending.add(name); edited.add(name)
            Response(id, 200, Seq("{}"), 0)
        }
        case "bulk" =>
          // the BulkAdd route: one ND-JSON GraphElement per line, each
          // naming its graph
          val lines = r.get("lines").asScala.map(l => mapper.readTree(l.asText())).toSeq
          var inserted = 0
          tr.span("model.edit") {
            lines.foreach { b =>
              val g = b.get("graph").asText()
              val isVertex = b.has("vertex")
              edit(graphs.get(g), if (isVertex) b.get("vertex") else b.get("edge"), isVertex)
              pending.add(g); edited.add(g)
              inserted += 1
            }
          }
          Response(id, 200, Seq(s"""{"insertCount":$inserted,"errorCount":0}"""), 0)
        case "delete_vertex" => graphOf(r) match {
          case None => Response(id, 404, Nil, 0)
          case Some(mg) =>
            val gid = r.get("gid").asText()
            val found = tr.span("model.delete") {
              val found = mg.getVertex(gid).isDefined
              if (found) mg.deleteVertex(gid)
              found
            }
            pending.remove(name); edited.add(name)
            Response(id, if (found) 200 else 404, Seq("{}"), 0)
        }
      }
    }

    // the same untimed checks the HTTP run makes after the server answers
    warm.foreach(r => handle(r, new ReqTrace(-1, spanIds, new java.util.ArrayDeque[Span](), t0)))

    val responses = new ConcurrentHashMap[Int, Response]()
    def replay(reqs: IndexedSeq[JsonNode], clients: Int): Double = {
      val next = new AtomicInteger()
      val start = System.nanoTime()
      val workers = (1 to clients).map { _ =>
        val th = new Thread(() => {
          var i = next.getAndIncrement()
          while (i < reqs.size) {
            val r = reqs(i)
            val id = r.get("id").asInt()
            spark.sparkContext.setLocalProperty(ReqProp, id.toString)
            val tr = new ReqTrace(id, spanIds, spans, t0)
            val resp = try tr.span("server.request")(handle(r, tr))
              catch { case e: Exception => Response(id, 500, Seq(String.valueOf(e.getMessage)), 0) }
            spark.sparkContext.setLocalProperty(ReqProp, null)
            responses.put(id, resp)
            i = next.getAndIncrement()
          }
        })
        th.start()
        th
      }
      workers.foreach(_.join())
      (System.nanoTime() - start) / 1e9
    }
    val phases = stream.groupBy(_.get("phase").asInt()).toSeq.sortBy(_._1).map(_._2)
    val phaseS = phases.map(p => replay(p, p.head.get("clients").asInt()))
    org.apache.spark.GripbenchBus.drain(spark.sparkContext)

    val lineage = edited.asScala.toSeq.map { g =>
      val gf = graphs.get(g).graph
      Seq(gf.vertices, gf.edges).map(_.queryExecution.analyzed.collect {
        case j: Join => j
        case u: Union => u
      }.size).sum
    }.maxOption.getOrElse(0)

    def write(file: String)(f: BufferedWriter => Unit): Unit = {
      val w = new BufferedWriter(new FileWriter(Paths.get(outDir, file).toFile, UTF_8))
      try f(w) finally w.close()
    }
    write("spans.jsonl") { w =>
      spans.asScala.foreach { s =>
        w.write(mapper.createObjectNode().put("id", s.id).put("name", s.name)
          .put("start_ns", s.start).put("end_ns", s.end).put("parent", s.parent)
          .put("req", s.req).toString)
        w.newLine()
      }
    }
    write("counters.jsonl") { w =>
      listener.byReq.asScala.foreach { case (req, c) =>
        w.write(mapper.createObjectNode().put("req", req).put("jobs", c.jobs.get)
          .put("tasks", c.tasks.get).put("records_read", c.recordsRead.get)
          .put("cpu_ns", c.cpuNs.get).put("shuffle_bytes", c.shuffleBytes.get)
          .put("spill_bytes", c.spillBytes.get).put("sched_wait_ms", c.schedWaitMs.get)
          .put("gc_ms", c.gcMs.get).toString)
        w.newLine()
      }
    }
    write("responses.jsonl") { w =>
      responses.asScala.values.toSeq.sortBy(_.id).foreach { r =>
        val node = mapper.createObjectNode().put("id", r.id).put("status", r.status)
          .put("plan_nodes", r.planNodes)
        val arr = node.putArray("lines")
        r.lines.foreach(arr.add)
        w.write(node.toString)
        w.newLine()
      }
    }
    write("summary.json") { w =>
      val node = mapper.createObjectNode().put("load_s", loadS).put("open_s", openS)
        .put("lineage_nodes", lineage)
      val arr = node.putArray("phase_s")
      phaseS.foreach(x => arr.add(x))
      w.write(node.toString)
    }
    spark.stop()
  }
}
