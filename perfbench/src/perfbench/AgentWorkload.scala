package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import graft.context.ContextAssembler
import graft.io.CommitLog
import graft.memory.{MemoryConfig, MemoryStore}
import graft.model.{Message, TaskRow, Tool}
import graft.provider.StubProvider
import graft.serve.{ChatService, ViewServer}
import graft.task.{TaskConfig, TaskStore}
import org.apache.spark.sql.{Dataset, SparkSession}

/** One scripted chat turn: what is posted and what must come back. */
final case class Turn(
    i: Int, session: String, kind: String, query: String, expected: String)

/** A seeded conversation for a [[StubProvider]]: one turn per
  * `(kind, session)` entry of `plan` (memory-record, memory-data and
  * plain turns, ending in one tool call), all on one task.
  * The seed writes every text from `vocab`, the words of the
  * `documents` corpus: the queries, the records, the keys and values,
  * the answers. The turn types and sessions are fixed, so every seed
  * asks the engine for the same work and runs differ by host noise only. */
final case class ChatScript(turns: Seq[Turn], canned: Seq[(String, String)]) {
  /** Store sizes and commit-log offsets the script implies. */
  def expectedCounts(nPartitions: Int, maxLogs: Int, savedSummaries: Int): Map[String, Long] = {
    val hasRecord = mutable.Set[String]()
    val updates = mutable.Map[String, Int]().withDefaultValue(0)
    var records = 0L; var kv = 0L; var messages = 0L
    turns.foreach { t =>
      t.kind match {
        case "record" => records += 1; hasRecord += t.session
        case "data" => kv += 1
        case _ => ()
      }
      messages += (if (t.kind == "tool") 4 else 2)
      // the post-turn memory update runs once the session has a record
      // and adds one key fact
      if (hasRecord(t.session)) { updates(t.session) += 1; kv += 1 }
    }
    val offsets = turns.groupBy(t => math.floorMod(t.session.hashCode, nPartitions))
      .map { case (p, ts) => s"offset.p$p" -> ts.size.toLong }
    Map("records" -> records, "kv" -> kv, "messages" -> messages,
      "topics" -> updates.size.toLong,
      "summaries" -> updates.values.map(n => math.min(n, savedSummaries).toLong).sum,
      "task_logs" -> math.min(turns.size, maxLogs).toLong) ++ offsets
  }
}

object ChatScript {
  private def fence(json: String) = "```json\n" + json + "\n```"
  val analysisKey = "Analyze the following memory records"

  def apply(seed: Long, plan: Seq[(String, String)], vocab: IndexedSeq[String]): ChatScript = {
    val kinds = plan.map(_._1)
    // the tool call ends the script: its follow-up is keyed on the tool
    // result, which later turns of that session would also carry
    require(kinds.lastOption.contains("tool") && !kinds.init.contains("tool"),
      s"the tool call must be the last turn and the only one: $kinds")
    val rng = new Random(seed)
    val nTurns = kinds.size
    val sessions = plan.map(_._2)
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val canned = mutable.ArrayBuffer[(String, String)]()
    val turns = (0 until nTurns).map { i =>
      val tag = f"$i%03d"
      val query = s"turn $tag ${words(4 + rng.nextInt(5))}"
      val (reply, expected) = kinds(i) match {
        case "record" =>
          val text = s"Noted $tag."
          (s"""{"text": "$text", "mem_op": {"name": "add_memory_record", "args": {"memory": "note $tag ${words(6)}"}}, "finished": true}""", text)
        case "data" =>
          val text = s"Stored k$tag."
          (s"""{"text": "$text", "mem_op": {"name": "add_memory_data", "args": {"key": "k$tag", "value": "${words(3)}"}}, "finished": true}""", text)
        case "tool" =>
          val done = s"Lookup $tag done."
          canned.prepend(s"REF-T$tag-DONE" -> fence(s"""{"text": "$done", "finished": true}"""))
          (s"""{"text": "Looking up $tag.", "tool": {"name": "lookup", "args": {"ref": "REF-T$tag"}}, "finished": true}""", done)
        case _ =>
          val text = s"Answer $tag: ${words(8)}."
          (s"""{"text": "$text", "finished": true}""", text)
      }
      canned += s"## Query:\n$query" -> fence(reply)
      Turn(i, sessions(i), kinds(i), query, expected)
    }
    val analysis = fence("""{"summary": "The user is benchmarking the engine.", "topics": {"benchmarks": "timing notes"}, "key_facts": ["runs are seeded"]}""")
    ChatScript(turns, canned.takeWhile(_._1.startsWith("REF-")).toSeq ++
      Seq(analysisKey -> analysis) ++ canned.dropWhile(_._1.startsWith("REF-")))
  }

  /** The tool executor: answers `REF-T<n>` with `REF-T<n>-DONE`. */
  def lookup(name: String, args: String): String =
    """REF-T\d+""".r.findFirstIn(args).map(_ + "-DONE").getOrElse(s"[no result for $name]")
}

/** `agent_turns`: the scripted conversation posted one turn at a time
  * to `POST /chat` on a [[ViewServer]] fronting a [[ChatService]], each
  * turn followed by `GET`s of the task and memory views. The session
  * state Datasets grow by `union` every turn, so the turn count is fixed
  * per pass and late turns are slower than early ones. */
object AgentWorkload {
  private val http = HttpClient.newHttpClient()
  private val nPartitions = 4

  private def call(req: HttpRequest): (Int, String) = {
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  final class Live(spark: SparkSession, script: ChatScript, val pushDir: String) {
    import spark.implicits._
    val tools: Dataset[Tool] = Seq(Tool("lookup", "look up a reference",
      """{"ref": "string"}""", "bench", 0L)).toDS()
    val svc = new ChatService(new StubProvider(script.canned),
      ChatService.State(MemoryStore.empty(spark),
        TaskStore.empty(spark).upsertTask(TaskRow(1L, "bench", "", "measure chat turns",
          "", "", new Timestamp(0L))),
        spark.emptyDataset[Message]),
      tools, pushDir, nPartitions, ChatScript.lookup)
    val server = new ViewServer(
      routes = Map(
        "/api/tasks" -> (() => svc.state.tasks.tasksView),
        "/api/memory" -> (() => svc.state.memory.kv.toDF())),
      postRoutes = Map("/chat" -> svc.handle))
    val base = s"http://127.0.0.1:${server.start()}"

    def post(t: Turn): (Int, String) = call(HttpRequest.newBuilder(URI.create(s"$base/chat"))
      .POST(HttpRequest.BodyPublishers.ofString(
        s"""{"session_id": "${t.session}", "query": "${t.query}", "task_id": 1, "ts": ${1000 + 10 * t.i}}"""))
      .build())

    def get(path: String): (Int, String) =
      call(HttpRequest.newBuilder(URI.create(base + path)).GET().build())
  }

  /** What is wrong with a `/chat` reply, if anything: its response text
    * must equal the turn's canned text (which holds no quotes or
    * backslashes, so the JSON needs no unescaping). */
  def turnError(t: Turn, res: Either[String, (Int, String)]): Option[String] = res match {
    case Left(e) => Some(e)
    case Right((200, body))
        if """"response": "([^"]*)"""".r.findFirstMatchIn(body).map(_.group(1))
          .contains(t.expected) => None
    case Right((code, body)) => Some(s"turn ${t.i}: HTTP $code, body ${body.take(200)}")
  }

  def run(spark: SparkSession, o: Opts, rec: Recorder): Unit = {
    import spark.implicits._
    val corpus = graft.sources.Tables.documents(spark, o.data).select($"text").as[String].collect()
    val plan = o.list("turns").map { t => val Array(k, s) = t.split(":"); (k, s) }
    val script = ChatScript(o.seed, plan, Main.vocabulary(corpus.toSeq))
    /** What the stores must hold after the script's first `n` turns. */
    def expectedAfter(n: Int): Map[String, Long] = script.copy(turns = script.turns.take(n))
      .expectedCounts(nPartitions, TaskConfig().maxLogs, MemoryConfig().savedSummaryNum)
    var pushN = 0
    def fresh(): Live = { pushN += 1; new Live(spark, script, s"${o.runDir}/push-$pushN") }

    // repeated set-up: the state and server the warm turns run on; the
    // last one is kept for them
    var warm: Live = null
    rec.setup("prep_s") = (1 to 3).map { _ =>
      if (warm != null) warm.server.close()
      val t0 = System.nanoTime()
      warm = fresh()
      Main.seconds(t0)
    }
    /** Post one turn, then GET both views; every reply is checked
      * against what the script implies so far. */
    def turnWithViews(live: Live, t: Turn, p: Int, tr: Main.Traced): Unit = {
      val (ms, res) = Main.timed(tr.op(s"turn ${t.i}", "turn")(live.post(t)))
      rec.op(p, "turn", s"turn ${t.i}", ms, turnError(t, res))
      val soFar = expectedAfter(t.i + 1)
      val kvSoFar = soFar("kv")
      Seq("/api/tasks" -> s""""logs_count":${soFar("task_logs")}""",
        "/api/memory" -> "").foreach { case (path, mustHave) =>
        val (vms, vres) = Main.timed(tr.op(path, "view")(live.get(path)))
        rec.op(p, "view", path, vms, vres match {
          case Left(e) => Some(e)
          case Right((200, body)) =>
            val rows = """"sessionId":""".r.findAllMatchIn(body).size
            if (path == "/api/memory" && rows != kvSoFar)
              Some(s"$path after turn ${t.i}: $rows rows, expected $kvSoFar")
            else if (!body.contains(mustHave)) Some(s"$path after turn ${t.i}: ${body.take(200)}")
            else None
          case Right((code, body)) => Some(s"$path: HTTP $code ${body.take(200)}")
        })
      }
    }

    // warm turns: the whole script once on a throwaway state; replies
    // are checked, views are left cold
    val w0 = System.nanoTime()
    try script.turns.foreach { t =>
      val (ms, res) = Main.timed(warm.post(t))
      rec.op(0, "turn", s"turn ${t.i}", ms, turnError(t, res))
    } finally warm.server.close()
    rec.setup("warm_s") = Main.seconds(w0)
    rec.sampleHeap()

    def runPass(p: Int, tr: Main.Traced): Unit = {
      val live = fresh()
      val probes = mutable.Map[String, mutable.ArrayBuffer[Double]]()
      def probe(name: String)(body: => Unit): Unit = if (tr.spans.enabled) {
        val t0 = System.nanoTime()
        tr.spans(name, "probe")(body)
        probes.getOrElseUpdate(name, mutable.ArrayBuffer()) += Main.millis(t0)
      }
      var sizes = (0.0, 0.0)
      var planS = 0.0
      try {
        script.turns.foreach { t =>
          turnWithViews(live, t, p, tr)
          // direct, read-only calls into the layers behind a turn, made
          // on the live state between turns (traced passes only)
          val st = live.svc.state
          probe("context.assemble_ms") {
            ContextAssembler(st.memory, st.tasks, live.tools)
              .assemble(t.session, t.query, Some(1L), st.messages, 0L)
          }
          probe("memory.relevant_ms") {
            st.memory.relevantTopics(t.session, t.query).collect()
            st.memory.relevantKv(t.session, t.query).collect()
          }
          probe("task.view_ms")(st.tasks.tasksView.collect())
          if (tr.spans.enabled) {
            val ds: Seq[Dataset[_]] = Seq(st.memory.records, st.memory.summaries,
              st.memory.topics, st.memory.kv, st.tasks.tasks, st.tasks.logs,
              st.tasks.files, st.messages)
            // the state after this turn, planned from scratch: the union
            // chains a turn's jobs are built on
            val p0 = System.nanoTime()
            tr.spans("state", "plan")(ds.foreach(_.queryExecution.executedPlan))
            planS += Main.seconds(p0)
            if (t == script.turns.last)
              sizes = (ds.map(_.rdd.getNumPartitions).sum.toDouble,
                ds.map(_.queryExecution.logical.collect { case n => n }.size).sum.toDouble)
          }
        }
        rec.pass(p, tr.spans.enabled)
        checkState(live, expectedAfter(script.turns.size), p, rec)
      } finally live.server.close()
      if (tr.spans.enabled) {
        probes.foreach { case (k, v) => rec.layers(k) = Main.median(v.toSeq) }
        rec.layers ++= Seq("memory.state_partitions" -> sizes._1,
          "memory.plan_nodes" -> sizes._2, "plans.plan_s" -> planS)
      }
      rec.sampleHeap()
    }

    Main.measure(spark, o, rec)(runPass)
  }

  /** Final store sizes and push-topic offsets against the script. */
  private def checkState(live: Live, expected: Map[String, Long], p: Int, rec: Recorder): Unit = {
    val st = live.svc.state
    val offsets = CommitLog.latestOffsets(live.pushDir)
    val got = Map(
      "records" -> st.memory.records.count(), "kv" -> st.memory.kv.count(),
      "messages" -> st.messages.count(), "topics" -> st.memory.topics.count(),
      "summaries" -> st.memory.summaries.count(), "task_logs" -> st.tasks.logs.count()) ++
      offsets.map { case (pid, n) => s"offset.p$pid" -> n }
    val ok = got == expected
    rec.check(s"pass $p store counts", ok,
      if (ok) "" else s"expected ${expected.toSeq.sorted} got ${got.toSeq.sorted}")
  }
}
