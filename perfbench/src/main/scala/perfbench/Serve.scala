package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Graft

/** index_serve: one client in a closed loop against an ANN index and a
  * BM25 index, each call waiting for its reply. Set-up builds both
  * indexes from a seeded split of the fixture corpus; each round of the
  * timed loop probes each index kind (ANN exact, ANN ADC, BM25) once,
  * with an upsert generation of each index between the probes. The seed
  * picks the split, the upserted rows and every query. The checks
  * verify the last round's replies against the index state each probe
  * saw. */
final class ServeWorkload(cfg: Config) extends Workload {
  import ServeWorkload._

  private val rng = new scala.util.Random(cfg.seed)
  private var vectors: Map[Long, (Int, Array[Float])] = Map.empty
  private var texts: Map[Long, String] = Map.empty
  private var pool: Iterator[Seq[Long]] = Iterator.empty
  private val liveVec = mutable.LinkedHashSet.empty[Long]
  private val liveDoc = mutable.LinkedHashSet.empty[Long]
  private val root = s"${cfg.work}/index"
  private var annGens, txtGens = 1
  // the last round's probes, their replies and the ids live when each
  // ran, for the checks
  private var lastAnn: (Array[Float], Array[Row], Seq[Long]) = _
  private var lastAdc: (Array[Row], Seq[Long]) = _
  private var lastBm25: (Seq[String], Array[Row], Seq[Long]) = _

  private def annRoot = s"$root/ann"
  private def txtRoot = s"$root/bm25"

  def setup(spark: SparkSession): Unit = {
    load(spark)
    Graft.ann.build(vecFrame(spark, liveVec.toSeq), "vec_id", "embedding", "label",
      annRoot, cells = Cells)
    Graft.text.bm25IndexBuild(docFrame(spark, liveDoc.toSeq), "doc_id", "text", txtRoot)
  }

  /** Read the fixture corpus and split it: the founding set (the ANN
    * seed ids `0 until Cells` always among them) and the seeded order
    * in which the remaining ids arrive as upsert batches. */
  private def load(spark: SparkSession): Unit = {
    vectors = spark.read.parquet(s"${cfg.data}/embeddings.parquet").collect().map { r =>
      r.getLong(r.fieldIndex("vec_id")) ->
        (r.getInt(r.fieldIndex("label")), r.getSeq[Float](r.fieldIndex("embedding")).toArray)
    }.toMap
    texts = spark.read.parquet(s"${cfg.data}/documents.parquet").collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) -> r.getString(r.fieldIndex("text"))
    }.toMap
    val ids = rng.shuffle(vectors.keys.filter(_ >= Cells).toSeq.sorted)
    val founding = (0L until Cells) ++ ids.take((vectors.size * FoundingShare).toInt - Cells)
    liveVec ++= founding
    liveDoc ++= founding
    pool = ids.drop(founding.size - Cells).grouped(BatchSize)
  }

  private def vecFrame(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map { id =>
      val (label, e) = vectors(id)
      Row(id, e.toSeq, label)
    }.asJava, VecSchema)

  private def docFrame(spark: SparkSession, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(id => Row(id, texts(id))).asJava, DocSchema)

  private def queryVector(): Array[Float] = {
    val base = vectors(liveVec.toSeq(rng.nextInt(liveVec.size)))._2
    val q = base.map(x => x + 0.05f * rng.nextGaussian().toFloat)
    val n = math.sqrt(q.map(x => x.toDouble * x).sum).toFloat
    q.map(_ / n)
  }

  private def queryTerms(): Seq[String] = {
    val words = texts(liveDoc.toSeq(rng.nextInt(liveDoc.size))).split(" ").distinct
    rng.shuffle(words.toSeq).take(2)
  }

  def run(spark: SparkSession, runner: Runner, rec: Record): Unit = {
    var wall = 0.0
    def probe(kind: String): Unit = {
      val gens = if (kind == "probe_bm25") txtGens else annGens
      val attrs = Map("index.generations" -> gens.toDouble)
      val q = if (kind == "probe_bm25") Array.empty[Float] else queryVector()
      val terms = if (kind == "probe_bm25") queryTerms() else Nil
      rec.nums("generations_at_probe") += gens
      kind match {
        case "probe_bm25" =>
          val r = runner.call("TextIndex.probe", "TextIndex", kind, attrs)(
            Graft.text.bm25TopkAt(spark, txtRoot, terms, k = K))
          wall += r.secs
          lastBm25 = (terms, r.rows, liveDoc.toSeq)
        case "probe_ann" =>
          val r = runner.call("AnnIndex.probe", "AnnIndex", kind, attrs)(
            Graft.ann.probe(spark, annRoot, q, k = K))
          wall += r.secs
          lastAnn = (q, r.rows, liveVec.toSeq)
        case _ =>
          val r = runner.call("AnnIndex.probeAdc", "AnnIndex", kind, attrs)(
            Graft.ann.probeAdc(spark, annRoot, q, k = K))
          wall += r.secs
          lastAdc = (r.rows, liveVec.toSeq)
      }
    }
    def write(kind: String, ids: Seq[Long]): Unit = kind match {
      case "upsert_ann" =>
        wall += runner.call("AnnIndex.upsert", "AnnIndex", kind)(
          Graft.ann.upsert(vecFrame(spark, ids), "vec_id", "embedding", "label", annRoot)).secs
        liveVec ++= ids; annGens += 1
      case "upsert_bm25" =>
        wall += runner.call("TextIndex.upsert", "TextIndex", kind)(
          Graft.text.bm25IndexUpsert(docFrame(spark, ids), "doc_id", "text", txtRoot)).secs
        liveDoc ++= ids; txtGens += 1
    }
    val t0 = System.nanoTime()
    do {
      wall = 0.0
      val batch = pool.next()
      // a fixed mix, so every seed times the same sequence of calls
      probe("probe_ann")
      write("upsert_ann", batch)
      probe("probe_adc")
      write("upsert_bm25", batch)
      probe("probe_bm25")
      rec.nums("pass_s") += wall  // the round's calls, as in a batch pass
    } while ((System.nanoTime() - t0) / 1e9 < cfg.seconds && pool.hasNext)
  }

  /** The BM25 reply must equal a fresh index of the documents live when
    * it ran; ANN replies must hold only ids live when they ran, the
    * exact probe's with exact cosines, and its recall@10 is measured
    * against the exact top-k (`Graft.similarity.topK`) over the vectors
    * live when it ran. */
  def check(spark: SparkSession, rec: Record): Unit = {
    val (terms, bm25Rows, docs) = lastBm25
    val fresh = s"$root/fresh-bm25"
    Graft.text.bm25IndexBuild(docFrame(spark, docs), "doc_id", "text", fresh)
    val want = Graft.text.bm25TopkAt(spark, fresh, terms, k = K).collect()
    rec.check("bm25_equals_fresh_build",
      want.map(_.toString).sorted.sameElements(bm25Rows.map(_.toString).sorted),
      s"terms ${terms.mkString(" ")}: ${bm25Rows.length} rows served, ${want.length} from a fresh build")
    def ids(rows: Array[Row]) = rows.map(r => r.getLong(r.fieldIndex("vec_id")))
    val (q, annRows, annLive) = lastAnn
    val (adcRows, adcLive) = lastAdc
    val deadIds = ids(annRows).filterNot(annLive.toSet) ++ ids(adcRows).filterNot(adcLive.toSet)
    val cosBad = annRows.count { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      vectors.contains(id) &&
        math.abs(cosine(q, vectors(id)._2) - r.getDouble(r.fieldIndex("cosine"))) > 1e-6
    }
    val truth = Graft.similarity.topK(vecFrame(spark, annLive), "vec_id", "embedding", q, K)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val hits = ids(annRows).count(truth.contains)
    rec.check("ann_replies_live_ids", deadIds.isEmpty,
      s"ids not in the index returned: ${deadIds.take(10).mkString(",")}")
    rec.check("ann_cosine_exact", cosBad == 0, s"$cosBad cosines differ from exact")
    rec.check("ann_recall_measured", truth.nonEmpty, s"$hits/${truth.size} exact top-$K ids found")
    if (truth.nonEmpty) rec.nums("ann_recall_at_10") += hits.toDouble / truth.size
    rec.strings("live_vectors") = liveVec.size.toString
    rec.strings("live_documents") = liveDoc.size.toString
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) =
      x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }
}

/** The traffic's sizes. Cells is `AnnIndex.build`'s default. The
  * founding share and the batch size follow StreamingSpec: its streaming
  * ANN ingest test builds the index from the first 7/10 of the ids, and
  * its CDC ANN test's first micro-batch upserts 40 vectors. The mix of
  * three probes to two writes is an assumption: no spec or roadmap
  * item fixes a read-to-write ratio. */
object ServeWorkload {
  val Cells = 8
  val K = 10
  val FoundingShare = 0.7
  val BatchSize = 40
  val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
}
