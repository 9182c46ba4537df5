package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `corpus_pipeline` and `graph_fixpoint`: passes over a fixed list of
  * `SparkEntry.queries`, in an order drawn from the seed, one query at a
  * time (one closed-loop client). Each query is timed from the call
  * into its `fn(spark, dir)` to the last collected row; its result is
  * reduced to an order-independent digest that `bench.py` compares with
  * the recorded one. A failed query is recorded as such and never timed
  * into a pass.
  *
  * Traced passes split every query into construct (inside `fn`, where
  * eager checkpoints run jobs), plan (forcing `executedPlan`) and
  * execute (collect). */
object BatchWorkload {
  /** Row count plus a wrapping sum of per-row hashes: independent of row
    * order and partitioning. Doubles are rounded to 9 significant digits
    * so that last-bit differences between partitionings do not count. */
  def digest(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN) "nan" else if (math.abs(d) < 1e-9) "0" else f"$d%.9g"
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.mkString("b[", ",", "]")
      case other => other.toString
    }
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(canon(r).getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(md).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  /** Release what a query left behind (catalog cache and
    * `localCheckpoint`ed RDDs) so the next query starts clean; the heap
    * sample after it also collects the garbage. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
    }
  }

  def run(spark: SparkSession, o: Opts, rec: Recorder): Unit = {
    val names = o.list("queries")
    val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    val tables = Option(new java.io.File(o.data).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    // repeated set-up: open every input table (file listing and footer)
    rec.setup("prep_s") = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tables.foreach(t => graft.sources.Tables.t(spark, o.data, t).schema)
      Main.seconds(t0)
    }
    val rng = new Random(o.seed)
    // traced passes only: construct and plan time, and the construct
    // windows whose jobs the ledger counts once it has drained
    var constructS = 0.0
    var planS = 0.0
    val constructWindows = mutable.ArrayBuffer[(Long, Long)]()
    var ledger: Option[JobLedger] = None

    def runPass(p: Int, traced: Main.Traced): Unit = {
      if (traced.spans.enabled) ledger = Some(traced.ledger)
      rng.shuffle(fns).foreach { case (name, fn) =>
        val (ms, res) = Main.timed {
          traced.op(name, "query") {
            val c0 = System.nanoTime()
            val c0Ms = System.currentTimeMillis()
            val df: DataFrame = traced.spans(name, "construct")(fn(spark, o.data))
            val c1 = System.nanoTime()
            val c1Ms = System.currentTimeMillis()
            traced.spans(name, "plan")(df.queryExecution.executedPlan)
            val c2 = System.nanoTime()
            val rows = traced.spans(name, "execute")(df.collect())
            if (traced.spans.enabled) {
              constructS += (c1 - c0) / 1e9
              planS += (c2 - c1) / 1e9
              constructWindows += ((c0Ms, c1Ms))
            }
            rows
          }
        }
        rec.op(p, "query", name, ms, res.left.toOption, res.toOption.map(digest))
        isolate(spark)
        rec.sampleHeap()
      }
      rec.pass(p, traced.spans.enabled)
    }

    val w0 = System.nanoTime()
    runPass(0, new Main.Traced(spark, false)) // warm pass: set-up, checked like the rest
    rec.setup("warm_s") = Main.seconds(w0)
    Main.measure(spark, o, rec)(runPass)
    ledger.foreach { l =>
      rec.layers ++= Seq("operators.construct_s" -> constructS,
        "operators.construct_jobs" -> l.window(constructWindows.toSeq).jobs.toDouble,
        "plans.plan_s" -> planS)
    }
  }
}
