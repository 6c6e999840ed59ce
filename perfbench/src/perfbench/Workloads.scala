package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.{Otf2Reader, ParquetTraceIO}
import graft.model.{Corpus, Schemas, Trace}
import graft.scale.{Dedup, Shingles, Similarity}
import graft.streaming.{StreamingComm, StreamingMatcher}

/** What an op hands to its correctness check: collected rows, or a
  * (count, hash) fingerprint computed in Spark for large results. */
final case class OpResult(rows: Seq[Row] = Nil, count: Long = -1L, hash: Long = 0L,
                          path: String = null) {
  /** Order-free digest; doubles are rounded to 9 significant digits so a
    * different float summation order cannot fail a repeat. */
  def digest: String =
    if (rows.isEmpty) s"$count:$hash"
    else {
      def cell(v: Any): String = v match {
        case d: Double => f"$d%.9g"
        case f: Float => f"${f.toDouble}%.9g"
        case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
        case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
        case other => String.valueOf(other)
      }
      val lines = rows.map(r => r.toSeq.map(cell).mkString("|")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
}

/** Shared context of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path, val seed: Long) {
  /** Per-op counters recorded at layer boundaries, keyed by metric name. */
  val counters = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  def count(metric: String, v: Double): Unit =
    counters.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  private val held = mutable.ArrayBuffer[DataFrame]()
  /** Persist `df` until the op ends, and materialize it. */
  def keep(df: DataFrame): DataFrame = {
    held += df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }
  /** Drop what the op persisted, including RDDs the library persisted
    * internally, so nothing stays cached across ops. */
  def release(before: Set[Int]): Unit = {
    held.foreach(_.unpersist(blocking = true)); held.clear()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tracer
  def opTypes: Seq[String]
  /** One pass of the timed loop, which repeats it: each op type at least
    * once, in order. */
  def mix: Seq[String] = opTypes
  /** Ops per second of `--seconds`: the op count of a run is
    * round(seconds * opsPerSecond), fixed before timing starts. */
  def opsPerSecond: Double
  /** Generate the inputs into the work directory and write the sidecar. */
  def generate(): Unit
  /** Digest of the generated input files, for the determinism test. */
  def inputDigest(): String
  /** Open the inputs (read, enrich, persist, fit) before warm-up. */
  def open(): Unit = ()
  /** One op; with `traced`, each layer's output is materialized inside
    * its own span. */
  def run(op: String, id: Int, traced: Boolean): OpResult
  /** None when the result is right, else what is wrong with it. */
  def check(op: String, r: OpResult): Option[String]
  /** A wrong version of `r`, for checking that a wrong result fails the run. */
  def corrupt(r: OpResult): OpResult = OpResult(count = r.count + 1, hash = r.hash ^ 1L)

  protected def writeSidecar(json: String): Unit =
    Files.write(ctx.work.resolve("truth.json"), json.getBytes("UTF-8"))

  protected def fingerprint(df: DataFrame): OpResult = {
    // 31-bit terms: the sum cannot overflow below 2^32 rows
    val h = pmod(xxhash64(df.columns.map(col): _*), lit(Int.MaxValue.toLong))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    OpResult(count = r.getLong(0), hash = r.getLong(1))
  }

  protected def collected(df: DataFrame): OpResult = OpResult(rows = df.collect().toSeq)

  protected def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  protected def digestFiles(root: Path): String = {
    val s = Files.walk(root)
    val files = try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).sorted
    finally s.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      md.update(root.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** An analyst session over one seeded trace. Set-up converts the OTF2
  * archive to canonical Parquet and opens and persists that; each op is
  * one call from a fixed mix: a fresh conversion of the archive (read,
  * enrich, write; nothing cached across ops) or one analysis of the
  * persisted trace. */
final class TraceInteractive(c: Ctx) extends Workload(c) {
  val shape = TraceGen.Shape(ranks = 64, iterations = 30)
  lazy val truth: TraceGen.Truth = TraceGen.truth(ctx.seed, shape)
  val opTypes = Seq("convert", "flat_profile", "flat_profile_proc", "load_imbalance",
    "time_profile", "idle_time", "callers_profile", "cct_build", "cct_rollup", "comm_matrix",
    "message_histogram", "match_messages", "critical_path", "detect_pattern",
    "streaming_completed_calls", "streaming_comm_match")
  val opsPerSecond = 1.6
  private def archive = ctx.work.resolve("archive").toString
  private var trace: Trace = _
  private val reference = mutable.HashMap[String, String]()

  def generate(): Unit = {
    TraceGen.writeArchive(spark, ctx.seed, shape, archive, truth)
    writeSidecar(TraceGen.truthJson(truth))
  }

  def inputDigest(): String =
    digestFiles(ctx.work.resolve("archive")) + ":" + digestFiles(ctx.work.resolve("truth.json"))

  /** The event path of `Trace.fromOtf2`. The whole call cannot be used:
    * its `Otf2Reader.definitions` reads three fields from every Region
    * record, and `Trace.toOtf2` writes two, so it throws on every archive
    * the library itself writes. */
  private def openArchive(): Trace = Trace(Otf2Reader.read(spark, archive))

  override def open(): Unit = {
    val session = ctx.work.resolve("session").toString
    convert(session, -1, traced = false)
    val ev = Trace.fromParquet(spark, session).events.persist(StorageLevel.MEMORY_AND_DISK)
    val n = ev.count()
    require(n == truth.events, s"opened trace holds $n events, ${truth.events} generated")
    trace = Trace(ev)
  }

  private def convert(dst: String, id: Int, traced: Boolean): OpResult = {
    if (!traced) ParquetTraceIO.write(openArchive().enriched.events, dst)
    else {
      val raw = tr.span("ingest.read", id)(ctx.keep(openArchive().events))
      val enriched = tr.span("enrich.match", id)(ctx.keep(Trace(raw).enriched.events))
      tr.span("ingest.write", id)(ParquetTraceIO.write(enriched, dst))
      ctx.count("ingest.events", truth.events.toDouble)
      ctx.count("ingest.bytes_read", dirBytes(ctx.work.resolve("archive")).toDouble)
      ctx.count("ingest.bytes_written", dirBytes(java.nio.file.Paths.get(dst)).toDouble)
    }
    OpResult(path = dst)
  }

  private def layerOf(op: String): String =
    if (op.startsWith("cct_")) "cct." + op.stripPrefix("cct_")
    else if (op.startsWith("streaming_")) "streaming." + op.stripPrefix("streaming_")
    else "analysis." + op

  def run(op: String, id: Int, traced: Boolean): OpResult =
    if (op == "convert") convert(ctx.work.resolve(s"parquet-${math.abs(id) % 2}").toString, id, traced)
    else tr.span(layerOf(op), id) {
      val t = trace
      val r = op match {
        case "flat_profile" => collected(t.flatProfile())
        case "flat_profile_proc" => collected(t.flatProfile(perProcess = true))
        case "load_imbalance" => collected(t.loadImbalance(numProcesses = 4))
        case "time_profile" => collected(t.timeProfile(numBins = 32))
        case "idle_time" => collected(t.idleTime())
        case "callers_profile" => collected(t.callersProfile())
        case "cct_build" =>
          val cct = collected(t.createCct().cct.get)
          if (traced) ctx.count("cct.nodes", cct.rows.size.toDouble)
          cct
        case "cct_rollup" => collected(t.cctRollup())
        case "comm_matrix" => collected(t.commMatrix())
        case "message_histogram" => collected(t.messageHistogram())
        case "match_messages" => fingerprint(t.matchMessages())
        case "critical_path" => fingerprint(t.criticalPath())
        case "detect_pattern" =>
          val parts = t.detectPattern("main", iterations = Some(shape.iterations))
          OpResult(rows = parts.flatMap(_.collect().toSeq))
        case "streaming_completed_calls" => fingerprint(StreamingMatcher.completedCalls(t.events))
        case "streaming_comm_match" => fingerprint(StreamingComm.matchMessages(t.events))
      }
      if (traced && layerOf(op).startsWith("analysis."))
        ctx.count("analysis.rows_out", (if (r.count >= 0) r.count else r.rows.size).toDouble)
      if (traced && (op == "match_messages" || op == "streaming_comm_match"))
        ctx.count("analysis.matched_message_ratio", r.count.toDouble / truth.messages)
      r
    }

  /** A wrong version of `r`: for a conversion, the written trace less its
    * first event. */
  override def corrupt(r: OpResult): OpResult =
    if (r.path == null) super.corrupt(r)
    else {
      val dst = ctx.work.resolve("parquet-wrong").toString
      ParquetTraceIO.write(ParquetTraceIO.read(spark, r.path).filter(col(Schemas.EventId) =!= 0L), dst)
      OpResult(path = dst)
    }

  /** Per-function exclusive totals of a flat profile against the sidecar.
    * A per-process profile sums to the total; the plain one is the mean
    * over the ranks that call the function. */
  private def profileMatches(rows: Seq[Row], what: String, perProcess: Boolean): Option[String] = {
    val got = rows.groupBy(_.getAs[String](Schemas.Name)).map { case (n, rs) =>
      val v = rs.map(r => r.getAs[Number](Schemas.TimeExc).doubleValue).sum
      n -> (if (perProcess) v else v * truth.ranksCalling.getOrElse(n, 0))
    }
    val bad = truth.exclusiveNs.filter { case (n, v) =>
      got.get(n).forall(g => math.abs(g - v) > 1e-9 * math.max(1.0, v.toDouble)) }
    if (bad.isEmpty && got.size == truth.exclusiveNs.size) None
    else Some(s"$what: exclusive totals differ from the sidecar: " +
      bad.keys.toSeq.sorted.take(3).map(n => s"$n ${got.get(n)} != ${truth.exclusiveNs(n)}").mkString(", "))
  }

  /** Every generated event written, every Enter/Leave matched, and the
    * flat-profile totals of the written trace equal to the sidecar's. */
  private def checkConversion(path: String): Option[String] = {
    val ev = ParquetTraceIO.read(spark, path)
    val enterLeave = col(Schemas.EventType).isin(Schemas.Enter, Schemas.Leave)
    val s = ev.agg(count(lit(1)), sum(when(enterLeave, 1L).otherwise(0L)),
        sum(when(enterLeave && col(Schemas.MatchingEventId).isNotNull, 1L).otherwise(0L)))
      .head()
    val (n, el, matched) = (s.getLong(0), s.getLong(1), s.getLong(2))
    val ratio = if (el == 0) 0.0 else matched.toDouble / el
    if (tr.on) ctx.count("enrich.matched_ratio", ratio)
    if (n != truth.events) Some(s"convert: $n events written, ${truth.events} generated")
    else if (el != truth.enterLeave || matched != el)
      Some(s"convert: matched ratio $ratio ($matched of $el Enter/Leave events)")
    else profileMatches(Trace(ev).flatProfile(perProcess = true).collect().toSeq, "convert",
      perProcess = true)
  }

  private def sumCol(rows: Seq[Row], c: String): Double =
    rows.map(r => r.getAs[Number](c).doubleValue).sum

  def check(op: String, r: OpResult): Option[String] =
    if (op == "convert") checkConversion(r.path)
    else {
      val totals = op match {
        case "flat_profile" => profileMatches(r.rows, op, perProcess = false)
        case "flat_profile_proc" => profileMatches(r.rows, op, perProcess = true)
        case "idle_time" =>
          val idle = sumCol(r.rows, "idle_time")
          if (idle == truth.exclusiveNs("Idle")) None
          else Some(s"idle_time: $idle ns, sidecar ${truth.exclusiveNs("Idle")}")
        case "comm_matrix" =>
          val bytes = sumCol(r.rows, "volume")
          if (bytes == truth.messageBytes) None
          else Some(s"comm_matrix: $bytes bytes, sidecar ${truth.messageBytes}")
        case "message_histogram" =>
          val n = sumCol(r.rows, "count")
          if (n == truth.messages) None
          else Some(s"message_histogram: $n messages, sidecar ${truth.messages}")
        case _ => None
      }
      totals.orElse {
        val d = r.digest
        val ref = reference.getOrElseUpdate(op, d)
        if (ref == d) None else Some(s"$op: result hash $d differs from the first run's $ref")
      }
    }
}

/** Dedup and similarity over a seeded corpus with planted duplicates. */
final class CorpusDedup(c: Ctx) extends Workload(c) {
  val opTypes = Seq("exact_dedup", "near_dup_components", "ngram_jaccard", "simhash",
    "ann_brute", "ann_ivf")
  /** The cheap lookups run twice per pass: with one call of each per pass
    * the median op of a run would rest on one call of two op types. */
  override val mix = Seq("exact_dedup", "near_dup_components", "simhash", "ann_brute", "ann_ivf",
    "ngram_jaccard", "exact_dedup", "simhash", "ann_brute", "ann_ivf")
  val opsPerSecond = 1.0
  val shape = CorpusGen.Shape(docs = 1500, vocab = 3000, exactClusters = 30,
    nearClusters = 30, vectors = 1200, dim = 64, vectorClusters = 24,
    nearVectorClusters = 30, queries = 30)
  /** Stated quality floors of the approximate operators. */
  val NearDupRecallFloor = 0.8
  val IvfRecallFloor = 0.8
  /** Shingles held by more than this many documents are stop-level; the
    * exact Jaccard join skips them (the operator's own df cap). */
  val MaxShingleDf = 20
  val MinJaccard = 0.5

  private lazy val data = CorpusGen.generate(ctx.seed, shape)
  private var docs: DataFrame = _
  private var vectors: DataFrame = _
  private var queries: DataFrame = _
  private var centroids: Array[Array[Double]] = _
  private var lastBrute: Map[Long, Set[Long]] = Map.empty
  /** Digest of the first (untraced, warm-up) `nearDupComponents` result. */
  private var nearDupReference: Option[String] = None

  /** The inputs stay in memory: the corpus and vectors as persisted
    * DataFrames, the sidecar as a file. */
  def generate(): Unit = writeSidecar(CorpusGen.truthJson(data))

  /** Digest of the generated content and the sidecar. */
  def inputDigest(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    data.docs.foreach { case (i, t) => md.update(s"$i\t$t\n".getBytes("UTF-8")) }
    data.vectors.foreach { case (i, v) => md.update(s"$i\t${v.mkString(",")}\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString + ":" + digestFiles(ctx.work.resolve("truth.json"))
  }

  override def open(): Unit = {
    val session = spark
    import session.implicits._
    val parts = spark.sparkContext.defaultParallelism
    docs = data.docs.toDF("doc_id", "text").repartition(parts).persist(StorageLevel.MEMORY_AND_DISK)
    vectors = data.vectors.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .repartition(parts).persist(StorageLevel.MEMORY_AND_DISK)
    require(docs.count() == data.docs.size && vectors.count() == data.vectors.size,
      "corpus inputs do not hold the generated row counts")
    queries = vectors.filter(col("vec_id").isin(data.queries: _*)).persist()
    queries.count()
    centroids = Similarity.kmeansFit(vectors, k = 16, iterations = 3)
  }

  def run(op: String, id: Int, traced: Boolean): OpResult = op match {
    case "exact_dedup" => tr.span("scale.exact", id)(collected(Corpus(docs).exactDedup))
    case "near_dup_components" =>
      if (!traced) collected(Corpus(docs).nearDupComponents(numHashes = 16, bands = 4))
      else {
        // the same calls Corpus.nearDupComponents makes, one layer per span;
        // the check holds the result to the untraced facade call's
        tr.span("scale.shingle", id)(ctx.keep(Shingles.wordShingles(docs)))
        val sigs = tr.span("scale.minhash", id)(ctx.keep(Dedup.minhashSignatures(docs, 16)))
        val cands = tr.span("scale.lsh_candidates", id) {
          val p = ctx.keep(Dedup.minhashLshPairs(sigs, 4, 4))
          ctx.count("scale.lsh_candidates", p.count().toDouble)
          p
        }
        tr.span("scale.verify", id) {
          val v = Dedup.lshPrecision(docs, cands, 1, 2).head()
          val n = v.getLong(0)
          ctx.count("scale.lsh_precision", if (n == 0) 0.0 else v.getLong(1).toDouble / n)
        }
        tr.span("scale.components", id)(collected(Dedup.connectedComponents(cands)))
      }
    case "ngram_jaccard" => tr.span("scale.jaccard", id)(collected(
      Dedup.ngramJaccardPairs(docs, 3, MinJaccard, maxShingleDf = MaxShingleDf)))
    case "simhash" => tr.span("scale.simhash", id)(collected(Dedup.simhash(docs)))
    case "ann_brute" => tr.span("scale.ann_brute", id)(collected(
      Similarity.bruteForceTopK(vectors, queries, k = 5)))
    case "ann_ivf" => tr.span("scale.ann_ivf", id)(collected(
      Similarity.ivfTopK(vectors, queries, k = 5, nClusters = 16, nprobe = 2,
        centroids = Some(centroids))))
  }

  private def topK(rows: Seq[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }

  /** Share of planted pairs (within one cluster) that `sameGroup` joins. */
  private def pairRecall(clusters: Seq[Set[Long]], sameGroup: (Long, Long) => Boolean): Double = {
    val pairs = clusters.flatMap(c => c.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
    if (pairs.isEmpty) 1.0 else pairs.count { case (a, b) => sameGroup(a, b) }.toDouble / pairs.size
  }

  def check(op: String, r: OpResult): Option[String] = op match {
    case "exact_dedup" =>
      val found = r.rows.filter(_.getAs[Long]("dup_count") > 1)
        .map(x => (x.getAs[Long]("representative"), x.getAs[Long]("dup_count"))).toSet
      val planted = data.exactClusters.map(c => (c.min, c.size.toLong)).toSet
      if (found == planted && r.rows.size == data.docs.size - planted.toSeq.map(_._2 - 1).sum) None
      else Some(s"exact_dedup: ${found.size} duplicate groups found, ${planted.size} planted")
    case "near_dup_components" =>
      val comp = r.rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
      val recall = pairRecall(data.nearClusters,
        (a, b) => comp.get(a).exists(ca => comp.get(b).contains(ca)))
      if (tr.on) ctx.count("scale.near_dup_recall", recall)
      val d = r.digest
      val ref = nearDupReference.getOrElse { nearDupReference = Some(d); d }
      if (recall < NearDupRecallFloor)
        Some(f"near_dup_components: planted-pair recall $recall%.3f < $NearDupRecallFloor")
      else if (d != ref) Some(s"near_dup_components: result hash $d differs from the first run's $ref")
      else None
    case "ngram_jaccard" =>
      val pairs = r.rows.map(x => (x.getAs[Long]("a"), x.getAs[Long]("b"))).toSet
      val recall = pairRecall(data.nearClusters, (a, b) => pairs.contains((a, b)))
      if (recall == 1.0) None
      else Some(f"ngram_jaccard: planted-pair recall $recall%.3f, the exact join must find all")
    case "simhash" =>
      val h = r.rows.map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("simhash")).toMap
      val same = data.exactClusters.forall(c => c.map(h.get).size == 1)
      if (h.size == data.docs.size && same) None
      else Some("simhash: exact duplicates do not share one hash")
    case "ann_brute" =>
      val top = topK(r.rows)
      lastBrute = top
      val missed = data.nearVectorClusters.filter(c => data.queries.contains(c.min))
        .count(c => !(c - c.min).subsetOf(top.getOrElse(c.min, Set.empty)))
      if (top.size == data.queries.size && missed == 0) None
      else Some(s"ann_brute: $missed queries miss a planted near-duplicate in their top 5")
    case "ann_ivf" =>
      val top = topK(r.rows)
      if (lastBrute.isEmpty) lastBrute = topK(Similarity.bruteForceTopK(vectors, queries, k = 5).collect().toSeq)
      val hits = lastBrute.toSeq.map { case (q, exact) => (exact & top.getOrElse(q, Set.empty)).size }.sum
      val recall = hits.toDouble / lastBrute.values.map(_.size).sum
      if (tr.on) ctx.count("scale.ivf_recall_at_5", recall)
      if (recall >= IvfRecallFloor) None
      else Some(f"ann_ivf: recall@5 against brute force $recall%.3f < $IvfRecallFloor")
  }
}
