package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, map, when}

import graft.model.{Schemas, Trace}

/** Seeded SPMD MPI-like trace: every rank runs the same iteration loop
  * (main > iteration > compute > kernel_*, MPI_Send / MPI_Recv regions
  * around MpiSend / MpiRecv instants, an Idle region that absorbs the load
  * skew), with per-rank speed skew and ring neighbours exchanging one
  * message per iteration. Call depth is at most 4. */
object TraceGen {

  final case class Shape(ranks: Int, iterations: Int)

  /** One generated event; `peer` is the receiver of a send, the sender of
    * a receive. */
  final case class Ev(ts: Long, kind: String, name: String, peer: Int,
                      tag: Int, bytes: Long)

  /** Ground truth: exclusive ns per function and the number of ranks that
    * call it, message totals, counts. */
  final case class Truth(events: Long, enterLeave: Long, messages: Long,
                         messageBytes: Long, exclusiveNs: Map[String, Long],
                         ranksCalling: Map[String, Int])

  private def rng(seed: Long, rank: Int) =
    new java.util.SplittableRandom(seed * 1000003L + rank)

  /** Message length of rank `src`'s send at iteration `it`: a pure function,
    * so the receiving rank knows it without coordination. */
  def msgBytes(seed: Long, src: Int, it: Int): Long =
    64L << new java.util.SplittableRandom(seed ^ (src.toLong << 32) ^ it).nextInt(11)

  /** The events of one rank in time order. */
  def rankEvents(seed: Long, shape: Shape, rank: Int): Vector[Ev] = {
    val r = rng(seed, rank)
    val skew = 1.0 + 0.6 * rank / math.max(1, shape.ranks - 1)
    val out = Vector.newBuilder[Ev]
    var t = 1000L + r.nextInt(500)
    def call(name: String)(body: => Unit): Unit = {
      out += Ev(t, Schemas.Enter, name, -1, 0, 0L)
      t += 50 + r.nextInt(50)
      body
      t += 50 + r.nextInt(50)
      out += Ev(t, Schemas.Leave, name, -1, 0, 0L)
    }
    val kernels = Array("kernel_a", "kernel_b", "kernel_c")
    val next = (rank + 1) % shape.ranks
    val prev = (rank + shape.ranks - 1) % shape.ranks
    call("main") {
      for (it <- 0 until shape.iterations) call("iteration") {
        var busy = 0L
        call("compute") {
          for (_ <- 0 until 1 + r.nextInt(3)) {
            val k = kernels(r.nextInt(kernels.length))
            call(k) { val d = ((2000 + r.nextInt(8000)) * skew).toLong; t += d; busy += d }
          }
        }
        call("MPI_Send") {
          out += Ev(t, Schemas.Instant, "MpiSend", next, it, msgBytes(seed, rank, it))
          t += 200 + r.nextInt(300)
        }
        call("MPI_Recv") {
          t += 200 + r.nextInt(300)
          out += Ev(t, Schemas.Instant, "MpiRecv", prev, it, msgBytes(seed, prev, it))
        }
        call("Idle") { t += math.max(100L, (16000 * 1.6).toLong - busy / 2) }
      }
    }
    out.result()
  }

  def truth(seed: Long, shape: Shape): Truth = {
    val exc = mutable.HashMap[String, Long]().withDefaultValue(0L)
    val callers = mutable.HashMap[String, Int]().withDefaultValue(0)
    var events = 0L; var el = 0L; var msgs = 0L; var bytes = 0L
    for (rank <- 0 until shape.ranks) {
      // stack of (name, enter ts, child inclusive ns)
      val stack = mutable.Stack[(String, Long, Long)]()
      val evs = rankEvents(seed, shape, rank)
      evs.filter(_.kind == Schemas.Enter).map(_.name).distinct.foreach(callers(_) += 1)
      for (e <- evs) {
        events += 1
        e.kind match {
          case Schemas.Enter => el += 1; stack.push((e.name, e.ts, 0L))
          case Schemas.Leave =>
            el += 1
            val (name, t0, child) = stack.pop()
            exc(name) += (e.ts - t0) - child
            if (stack.nonEmpty) {
              val (pn, pt, pc) = stack.pop()
              stack.push((pn, pt, pc + (e.ts - t0)))
            }
          case _ =>
            if (e.name == "MpiSend") { msgs += 1; bytes += e.bytes }
        }
      }
    }
    Truth(events, el, msgs, bytes, exc.toMap, callers.toMap)
  }

  /** One event as a flat row; `peer`, `tag` and `bytes` are only read on
    * MPI instants. */
  final case class Flat(ts: Long, kind: String, name: String, process: Int, peer: Int,
                        tag: Int, bytes: Long)

  /** The trace as a canonical events table, built with plain Spark (ranks
    * spread over `tasks` tasks, the attribute map from SQL expressions).
    * Timestamps strictly increase within a rank, so the writer's per-rank
    * order needs no event ids. */
  def events(spark: SparkSession, seed: Long, shape: Shape, tasks: Int): DataFrame = {
    import spark.implicits._
    val flat = spark.sparkContext.parallelize(0 until shape.ranks, tasks).toDS()
      .flatMap { rank =>
        rankEvents(seed, shape, rank).iterator.map(e =>
          Flat(e.ts, e.kind, e.name, rank, e.peer, e.tag, e.bytes))
      }
    val send = col("name") === "MpiSend"
    val recv = col("name") === "MpiRecv"
    def attrs(peerKey: String) = map(lit(peerKey), col("peer").cast("string"),
      lit("msg_tag"), col("tag").cast("string"), lit("msg_length"), col("bytes").cast("string"))
    flat.select(col("ts").as(Schemas.TimestampNs), col("kind").as(Schemas.EventType),
      col("name").as(Schemas.Name), col("process").as(Schemas.Process),
      lit(0).as(Schemas.Thread),
      when(send, attrs("receiver")).when(recv, attrs("sender")).as(Schemas.Attributes),
      when(send, col("peer")).as(Schemas.AttrReceiver),
      when(send || recv, col("bytes")).as(Schemas.AttrMsgLength))
  }

  /** Write the OTF2 archive under `dir` and check its event count. */
  def writeArchive(spark: SparkSession, seed: Long, shape: Shape, dir: String,
                   expected: Truth): Unit = {
    val tasks = spark.sparkContext.defaultParallelism
    val (locations, written, dropped) = Trace(events(spark, seed, shape, tasks)).toOtf2(dir)
    require(locations == shape.ranks && written == expected.events && dropped == 0,
      s"OTF2 archive holds $locations locations / $written events / $dropped dropped; " +
        s"expected ${shape.ranks} / ${expected.events} / 0")
  }

  def truthJson(t: Truth): String = {
    def obj(m: Map[String, _]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"events": ${t.events}, "enter_leave": ${t.enterLeave}, "messages": ${t.messages}, """ +
      s""""message_bytes": ${t.messageBytes}, "exclusive_ns": ${obj(t.exclusiveNs)}, """ +
      s""""ranks_calling": ${obj(t.ranksCalling)}}"""
  }
}
