package graftbench

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** A benchmark workload: what set-up registers and builds, and what one
  * pass runs. */
trait Workload {
  /** Table registration (`sources.register_s`). */
  def register(r: Runner): Unit
  /** Index build, run before the cold pass (ingest only). */
  def build(r: Runner): Unit = ()
  /** One pass; `answers` is set on the cold pass that collects answers. */
  def pass(r: Runner, n: Int, answers: Option[String]): Unit
  /** Untimed checks after the measured window: one line per failure. */
  def verify(r: Runner): Seq[String] = Nil
  /** Workload-specific metrics, name -> (value, unit). */
  def extras(r: Runner, warm: Seq[Sample]): Map[String, (Double, String)] =
    Map.empty
  /** Warm passes an untraced run measures at least. */
  def minPasses: Int
  /** Warm passes a run measures at most. */
  def maxPasses: Int
}

object Workload {
  /** Joins, aggregates, grouping sets, windows, set operations, top-k and
    * the event-stream as-of join and sessionization. */
  val relational: Seq[String] = Seq(
    "q1_agg", "q_join_nway", "q_star_join", "x_rank_window", "q_topk",
    "x_cube", "x_intersect", "ev_asof", "ev_sessionize")

  /** One operator-heavy query per graft operator family. */
  val pipeline: Seq[String] = Seq(
    "dd_clusters", "sim_topk", "txt_redact", "sk_hll64", "mm_features",
    "ds_ingest")

  /** The gated query workload: four of `relational` (aggregate, n-way
    * join, window, as-of join) and one query for each operator family
    * `ingest` does not run (it runs the dedup and similarity indexes). */
  val queries: Seq[String] = Seq(
    "q1_agg", "q_join_nway", "x_rank_window", "ev_asof",
    "txt_redact", "sk_hll", "mm_features", "ds_token_budget")

  val queryLists: Map[String, Seq[String]] = Map(
    "relational" -> relational, "pipeline" -> pipeline, "queries" -> queries)

  /** graft module a pipeline query mostly exercises, by name prefix. */
  def family(name: String): String = name.takeWhile(_ != '_') match {
    case "dd" => "dedup"
    case "sim" => "similarity"
    case "txt" => "text"
    case "sk" => "sketches"
    case "mm" => "multimodal"
    case "ds" => "curate"
    case _ => "relational"
  }
}

object QueryWorkload {
  /** The action a warm pass times: the full answer, every column in its
    * final order, written through Spark's noop sink. */
  def timedAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** `relational` and `pipeline`: contract queries, each timed to its full
  * answer (every column, final order) through Spark's noop sink. */
final class QueryWorkload(names: Seq[String], seed: Long, dir: String,
                          pairRatio: Boolean) extends Workload {
  private val contract = graft.SparkEntry.queries
  var candidatesPerPair = 0.0
  val minPasses = 3
  val maxPasses = 1000

  def register(r: Runner): Unit = Tables.registerAll(r.spark, dir)

  def pass(r: Runner, n: Int, answers: Option[String]): Unit = {
    val order = new scala.util.Random(seed * 1000003L + n).shuffle(names)
    for (name <- order) {
      contract.get(name) match {
        case None => r.fail(name, "not a contract query")
        case Some(fn) =>
          r.op(name, Workload.family(name))(fn(r.spark, dir)) { df =>
            answers match {
              case None => QueryWorkload.timedAction(df)
              case Some(a) =>
                df.coalesce(1).write.mode("overwrite").parquet(s"$a/$name")
            }
          }
      }
      r.spark.catalog.clearCache()
    }
  }

  /** Minhash candidate pairs per verified pair on the seeded documents:
    * the LSH stage's wasted verification work. */
  override def verify(r: Runner): Seq[String] = {
    if (pairRatio) {
      val docs = Tables.load(r.spark, dir, "documents")
      val cand = Dedup.minhashCandidates(docs, "doc_id", "text").count()
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text").count()
      r.spark.catalog.clearCache()
      candidatesPerPair = cand.toDouble / math.max(pairs, 1L)
    }
    Nil
  }
}

/** `ingest`: steady-state maintenance of a PQ vector index and a minhash
  * dedup index. One pass is one cycle: append a batch, delete as many of
  * the oldest live rows, probe, compact. The live size stays constant.
  *
  * Inputs (written by the benchmark's generator, not by graft):
  * vectors.parquet (vec_id, embedding), docs.parquet (doc_id, text) and
  * plan.json (base sizes, batch size, planted near-duplicates). The
  * stream holds `cycles` batches; a run stops measuring before it runs
  * out, however fast the cycles are. PQ operations count as the
  * similarity family and minhash ones as dedup. */
final class IngestWorkload(inputDir: String, workDir: String, seed: Long,
                           probeSize: Int) extends Workload {
  private val plan = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$inputDir/plan.json"))
  private val baseVecs = plan.get("base_vecs").asLong
  private val baseDocs = plan.get("base_docs").asLong
  private val batch = plan.get("batch").asLong
  private val cycles = plan.get("cycles").asInt
  private val dim = plan.get("dim").asInt
  // one cycle runs ~150 Spark jobs, enough work for one sample; with the
  // index build and the cold cycle a run already takes about a minute
  val minPasses = 1
  val maxPasses: Int = cycles - 1
  private val dupIds: Set[Long] = {
    val it = plan.get("dup_of").fieldNames()
    val b = Set.newBuilder[Long]
    while (it.hasNext) b += it.next().toLong
    b.result()
  }

  private var spark: SparkSession = _
  private var vectors: DataFrame = _
  private var docs: DataFrame = _
  private var docBytes: Map[Long, Long] = Map.empty
  private var books: DataFrame = _
  private var pqPath: String = _
  private var mhPath: String = _
  private var cycle = 0
  private val pqLive = mutable.Queue.empty[Long]
  private val mhLive = mutable.Queue.empty[Long]

  // counters over warm cycles
  var rowsApplied = 0L
  var userBytesApplied = 0L
  var filesWritten = 0L
  var bytesWritten = 0L
  val pqFilesLive = mutable.ArrayBuffer.empty[Double]
  val mhFilesLive = mutable.ArrayBuffer.empty[Double]
  val storedRatio = mutable.ArrayBuffer.empty[Double]

  private def vecRowBytes = 8L + 4L * dim

  def register(r: Runner): Unit = {
    spark = r.spark
    vectors = spark.read.parquet(s"$inputDir/vectors.parquet")
    docs = spark.read.parquet(s"$inputDir/docs.parquet")
    vectors.createOrReplaceTempView("ingest_vectors")
    docs.createOrReplaceTempView("ingest_docs")
    if (docBytes.isEmpty)
      docBytes = docs.selectExpr("doc_id", "octet_length(text) AS n")
        .collect().map(row => row.getLong(0) -> (8L + row.getInt(1))).toMap
  }

  private def idFrame(name: String, ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF(name)
  }

  private def range(df: DataFrame, id: String, lo: Long, hi: Long) =
    df.filter(col(id) >= lo && col(id) < hi)

  override def build(r: Runner): Unit = {
    pqPath = s"$workDir/pq"
    mhPath = s"$workDir/mh"
    val baseV = range(vectors, "vec_id", 0, baseVecs)
    r.op("pq_train", "similarity")(
      Similarity.pqTrain(baseV, "vec_id", "embedding", m = 4, ksub = 8,
        iters = 2)) { b =>
      books = spark.createDataFrame(
        java.util.Arrays.asList(b.collect(): _*), b.schema)
    }
    r.op("pq_write", "similarity")(()) { _ =>
      Similarity.writePqIndex(baseV, "vec_id", "embedding", books, pqPath)
    }
    r.op("mh_write", "dedup")(()) { _ =>
      Dedup.writeMinhashIndex(range(docs, "doc_id", 0, baseDocs), "doc_id",
        "text", mhPath)
    }
    pqLive.clear(); pqLive ++= (0L until baseVecs)
    mhLive.clear(); mhLive ++= (0L until baseDocs)
    cycle = 0
  }

  private def dirFiles(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    if (!root.exists) Map.empty
    else walk(root).filter(f => f.getName.startsWith("part-"))
      .map(f => f.getPath -> f.length).toMap
  }

  private def snapshot() = dirFiles(pqPath) ++ dirFiles(mhPath)

  /** A maintenance call; in traced passes the files it leaves behind that
    * were not there before count as written. */
  private def maintain(r: Runner, name: String, family: String,
                       userBytes: Long, rows: Long)(call: => Unit): Unit = {
    val before = if (r.tracing) snapshot() else Map.empty[String, Long]
    r.op(name, family)(())(_ => call)
    if (r.tracing) {
      val fresh = snapshot().filter { case (p, _) => !before.contains(p) }
      filesWritten += fresh.size
      bytesWritten += fresh.values.sum
      userBytesApplied += userBytes
    }
    if (r.pass > 0) rowsApplied += rows
  }

  def pass(r: Runner, n: Int, answers: Option[String]): Unit = {
    if (cycle >= cycles) {
      r.fail("ingest", s"input stream exhausted after $cycles cycles")
      return
    }
    val c = cycle
    cycle += 1
    val rnd = new scala.util.Random(seed * 7919L + n)
    // 1. append a batch of vectors, then delete as many of the oldest
    val vLo = baseVecs + c * batch
    val appended = range(vectors, "vec_id", vLo, vLo + batch)
    maintain(r, "pq_append", "similarity", batch * vecRowBytes, batch) {
      Similarity.appendPqIndex(appended, "vec_id", "embedding", pqPath)
    }
    pqLive ++= (vLo until vLo + batch)
    val pqGone = (0L until batch).map(_ => pqLive.dequeue())
    maintain(r, "pq_delete", "similarity", batch * vecRowBytes, batch) {
      val removed = Similarity.deleteFromPqIndex(idFrame("vec_id", pqGone),
        "vec_id", pqPath)
      if (removed != batch)
        r.failures += s"pq_delete: removed $removed of $batch live rows"
    }
    // 2. probe a batch of live vectors read back after the writes
    val q = Seq.fill(probeSize)(pqLive(rnd.nextInt(pqLive.size))).distinct
    r.op("pq_probe", "similarity") {
      val idx = Similarity.readPqIndex(spark, pqPath)
      Similarity.pqTopK(vectors, vectors.join(idFrame("vec_id", q),
        "vec_id"), "vec_id", "embedding", idx.books, k = 10,
        prebuiltCodes = Some(idx.codes))
    }(QueryWorkload.timedAction)
    // 3. dedup a document batch against the index and append survivors,
    //    then delete as many of the oldest live documents
    val dLo = baseDocs + c * batch
    val docBatch = range(docs, "doc_id", dLo, dLo + batch)
    val expected = (dLo until dLo + batch).filterNot(dupIds.contains).toSet
    var survivors = Seq.empty[Long]
    maintain(r, "mh_probe_append", "dedup",
      expected.toSeq.map(docBytes).sum, expected.size) {
      val idx = Dedup.readMinhashIndex(spark, mhPath)
      survivors = Dedup.incrementalSurvivors(docBatch, idx, "doc_id", "text",
        threshold = 0.8).select("doc_id").collect().map(_.getLong(0)).toSeq
      Dedup.appendToMinhashIndex(
        docBatch.join(idFrame("doc_id", survivors), "doc_id"), "doc_id",
        "text", mhPath)
    }
    if (survivors.toSet != expected)
      r.failures += s"mh_probe_append: cycle $c kept ${survivors.size} " +
        s"documents, expected ${expected.size}"
    mhLive ++= survivors.sorted
    val mhGone = survivors.indices.map(_ => mhLive.dequeue())
    maintain(r, "mh_delete", "dedup", mhGone.map(docBytes).sum,
      mhGone.size) {
      val removed = Dedup.deleteFromMinhashIndex(idFrame("doc_id", mhGone),
        "doc_id", mhPath)
      if (removed != mhGone.size)
        r.failures += s"mh_delete: removed $removed of ${mhGone.size}"
    }
    // 4. compaction
    maintain(r, "pq_compact", "similarity", 0L, 0L) {
      Similarity.compactPqIndex(spark, pqPath)
    }
    maintain(r, "mh_compact", "dedup", 0L, 0L) {
      Dedup.compactMinhashIndex(spark, mhPath)
    }
    pqFilesLive += dirFiles(s"$pqPath/codes").size
    mhFilesLive += dirFiles(mhPath).size
    val stored = (dirFiles(pqPath) ++ dirFiles(mhPath)).values.sum
    val raw = pqLive.size * vecRowBytes + mhLive.iterator.map(docBytes).sum
    storedRatio += stored.toDouble / raw
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  /** The live id sets equal the expected ones, and probes answer exactly
    * as an index built from scratch over the live set with the same
    * codebooks. */
  override def verify(r: Runner): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val codeIds = spark.read.parquet(s"$pqPath/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    if (codeIds != pqLive.toSet)
      out += s"ingest: PQ index holds ${codeIds.size} ids, expected ${pqLive.size}"
    val sigIds = spark.read.parquet(s"$mhPath/signatures").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    if (sigIds != mhLive.toSet)
      out += s"ingest: minhash index holds ${sigIds.size} ids, expected ${mhLive.size}"
    val live = vectors.join(idFrame("vec_id", pqLive.toSeq), "vec_id")
    val fresh = s"$workDir/fresh_pq"
    Similarity.writePqIndex(live, "vec_id", "embedding", books, fresh)
    val q = vectors.join(idFrame("vec_id", pqLive.take(probeSize).toSeq),
      "vec_id")
    def probe(path: String) = {
      val idx = Similarity.readPqIndex(spark, path)
      rows(Similarity.pqTopK(vectors, q, "vec_id", "embedding", idx.books,
        k = 10, prebuiltCodes = Some(idx.codes)))
    }
    if (probe(pqPath) != probe(fresh))
      out += "ingest: probe answers differ from an index rebuilt over the live set"
    out.toSeq
  }

  override def extras(r: Runner, warm: Seq[Sample]) = {
    val maint = Set("pq_append", "pq_delete", "mh_probe_append", "mh_delete",
      "pq_compact", "mh_compact")
    val maintS = warm.filter(s => maint(s.name)).map(_.wall).sum
    val probes = warm.filter(_.name == "pq_probe").map(_.wall)
    Map(
      "ingest_rows_per_s" -> (rowsApplied / math.max(maintS, 1e-9), "rows/s"),
      "probe_p50_s" -> (Stats.median(probes), "s"),
      "stored_bytes_per_input_byte" -> (Stats.median(storedRatio.toSeq), "1"))
  }
}
