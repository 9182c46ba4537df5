package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.io.CommitLog
import graft.operators.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `stream_admit`: a commit-log topic of seeded documents drained by
  * `Streams.incrementalAdmit` in micro-batches of `batch` documents and
  * checked against a `DedupIndex` built from the rest of the corpus.
  *
  * The index holds every document whose id is not a multiple of 5. The
  * generated documents are, in fixed shares, exact copies of index
  * documents (3 in 10), near-duplicates made by replacing a few tokens
  * of an index document (4 in 10), and fresh documents: held-out
  * documents with one token replaced (3 in 10). Replacement tokens come
  * from the corpus's own vocabulary. The seed picks the sources, the
  * edits and the order. */
object StreamWorkload {
  private val nLogPartitions = 2

  def generate(seed: Long, n: Int, indexDocs: IndexedSeq[String],
      heldOut: IndexedSeq[String]): IndexedSeq[(Long, String)] = {
    val rng = new Random(seed)
    val vocab = Main.vocabulary(indexDocs ++ heldOut)
    def edit(text: String, k: Int): String = {
      val toks = text.split(" ")
      (1 to k).foreach(_ => toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.size)))
      toks.mkString(" ")
    }
    def pick(xs: IndexedSeq[String]) = xs(rng.nextInt(xs.size))
    val kinds = rng.shuffle((0 until n).map(i => i % 10))
    kinds.zipWithIndex.map { case (k, i) =>
      val text =
        if (k < 3) pick(indexDocs)
        else if (k < 7) { val t = pick(indexDocs); edit(t, 1 + t.split(" ").length / 15) }
        else edit(pick(heldOut), 1)
      (10000000L + i, text)
    }
  }

  /** The streamed payload format of `incrementalAdmit`, for the batch twin. */
  def verdicts(v: DataFrame): DataFrame = v.select(col("doc_id").cast("string"),
    concat_ws("|", col("exact_dup").cast("string"),
      coalesce(col("near_dup_of").cast("string"), lit("-")),
      coalesce(col("jac").cast("string"), lit("-")),
      col("keep").cast("string")))

  def run(spark: SparkSession, o: Opts, rec: Recorder): Unit = {
    import spark.implicits._
    val nDocs = o.int("docs")
    val batch = o.int("batch")
    val corpus = graft.sources.Tables.documents(spark, o.data)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val (held, kept) = corpus.partition(_._1 % 5 == 0)
    val gen = generate(o.seed, nDocs, kept.map(_._2).toIndexedSeq, held.map(_._2).toIndexedSeq)
    val genDf = gen.toDF("doc_id", "text")
    val indexSrc = kept.toSeq.toDF("doc_id", "text")

    var topic = ""
    var index: Dedup.DedupIndex = null
    var appendMs = 0.0
    // repeated set-up: write the topic, build and persist the index
    rec.setup("prep_s") = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      topic = s"${o.runDir}/topic-$k"
      val a0 = System.nanoTime()
      gen.grouped(500).zipWithIndex.foreach { case (chunk, c) =>
        CommitLog.append(topic, c % nLogPartitions, chunk.map { case (id, t) => (id, id.toString, t) })
      }
      appendMs = Main.millis(a0)
      val art = s"${o.runDir}/index-$k"
      val built = Dedup.buildIndex(indexSrc)
      built.fps.write.parquet(s"$art/fps")
      built.bands.write.parquet(s"$art/bands")
      built.arrs.write.parquet(s"$art/arrs")
      index = Dedup.DedupIndex(spark.read.parquet(s"$art/fps"),
        spark.read.parquet(s"$art/bands"), spark.read.parquet(s"$art/arrs"))
      Main.seconds(t0)
    }
    val twin = verdicts(Dedup.admitAgainstIndex(genDf, index))
      .as[(String, String)].collect().toMap
    rec.sampleHeap()

    /** Drain `topicDir` into a fresh output topic and check one verdict
      * per document, equal to the batch twin's. */
    def drain(p: Int, tr: Main.Traced, topicDir: String, docs: Int): Unit = {
      val out = s"${o.runDir}/out-$p"
      val progress = tr.op("drain", "pass") {
        val t0 = System.nanoTime()
        val t0Ms = System.currentTimeMillis()
        val (ms, res) = Main.timed {
          val stream = spark.readStream.format("commit-log")
            .option("maxRecordsPerTrigger", batch.toString).load(topicDir)
            .select($"key".cast("long").as("doc_id"), $"value".as("text"))
          val q = Streams.incrementalAdmit(stream, index, out, s"${o.runDir}/ckpt-$p",
            nLogPartitions)
          try {
            q.awaitTermination(150000)
            q.exception.foreach(e => throw e)
          } finally q.stop()
          q.recentProgress.filter(_.numInputRows > 0).toSeq
        }
        res match {
          case Left(e) => rec.op(p, "batch", "drain", ms, Some(e)); Seq.empty
          case Right(ps) =>
            ps.foreach { pr =>
              val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
              val startNs = t0 + (java.time.Instant.parse(pr.timestamp).toEpochMilli - t0Ms) * 1000000L
              tr.spans.child(s"batch ${pr.batchId}", "batch", startNs,
                startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
              rec.op(p, "batch", s"batch ${pr.batchId}",
                d.getOrElse("triggerExecution", 0L).toDouble, None)
            }
            ps
        }
      }
      val streamed = spark.read.format("commit-log").load(out)
        .select($"key", $"value").as[(String, String)].collect()
      val byDoc = streamed.toMap
      val ok = streamed.length == docs && byDoc.size == docs && byDoc.forall { case (k, v) =>
        twin.get(k).contains(v) }
      rec.check(s"pass $p verdicts", ok,
        if (ok) "" else s"${streamed.length} verdicts for ${byDoc.size} docs of $docs; " +
          s"${byDoc.count { case (k, v) => !twin.get(k).contains(v) }} differ from the batch twin")
      if (tr.spans.enabled) {
        def med(key: String) = Main.median(progress.map(
          _.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0)))
        rec.layers ++= Seq("streaming.add_batch_ms" -> med("addBatch"),
          "streaming.plan_ms" -> med("queryPlanning"),
          "streaming.wal_commit_ms" -> med("walCommit"),
          "io.latest_offset_ms" -> med("latestOffset"),
          "plans.plan_s" -> progress.map(_.durationMs.asScala.get("queryPlanning")
            .map(_.doubleValue).getOrElse(0.0)).sum / 1e3)
      }
      rec.sampleHeap()
      rec.pass(p, tr.spans.enabled)
    }

    // warm drain: one full pass over the topic, checked like the rest
    val w0 = System.nanoTime()
    drain(0, new Main.Traced(spark, false), topic, nDocs)
    rec.setup("warm_s") = Main.seconds(w0)

    Main.measure(spark, o, rec)(drain(_, _, topic, nDocs))
    if (o.trace) {
      val probe = genDf.limit(batch).cache()
      probe.count()
      rec.layers("operators.admit_ms") = Main.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Dedup.admitAgainstIndex(probe, index).collect()
        Main.millis(t0)
      })
      rec.layers("io.append_ms") = appendMs
    }
  }
}
