package perfbench

import graft.operators.{Bm25Index, Curation, Dedup, Pq, Similarity, Sampling}
import graft.sources.{Readers, Writers}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A corpus that grows by curated batches while it is searched.
  *
  * Once per run (`load`): build IVF-PQ over the base vectors and BM25 over
  * the base documents, and stream the base documents through the
  * semantic-ingest sink, which builds its MinHash sketch sidecar.
  *
  * Each cycle is one round. `write`: a raw document batch goes through
  * the curation chain — exact dedup, MinHash near-duplicate pairs and
  * their removal, the quality policy, n-gram decontamination against a
  * benchmark set, a token-budget sample — and is written as one file;
  * that file streams through the sink, which admits the documents that
  * are not near duplicates of the corpus; the admitted documents are
  * appended to BM25 and the round's vectors to IVF-PQ, and both indexes
  * are compacted. `step`: a top-k query batch against both indexes, run
  * [[Corpus.QueriesPerRound]] times.
  */
final class Corpus(run: Run, data: String) extends Workload {
  import Corpus._

  private val spark = run.spark
  private val base = s"${run.work}/corpus"
  private val pqPath = s"$base/ivfpq"
  private val bm25Path = s"$base/bm25"
  private val corpusPath = s"$base/docs"
  private val inDir = s"$base/in"
  private val stageDir = s"$base/stage"
  private lazy val vectors = Readers.readParquet(spark, s"$data/vectors.parquet")
  private lazy val docs = Readers.readParquet(spark, s"$data/docs.parquet")
  private lazy val qvec = Readers.readParquet(spark, s"$data/qvec.parquet")
  private lazy val qtext = Readers.readParquet(spark, s"$data/qtext.parquet")
  private lazy val rounds: Int =
    scala.io.Source.fromFile(s"$data/rounds.txt").mkString.trim.toInt
  private var stream: StreamingQuery = null
  private var lastRound = -1
  private var lastPq: Array[(Long, Long)] = Array.empty
  private var lastBm25: Array[(Long, Long, Long, Double)] = Array.empty

  private def upTo(df: DataFrame, r: Int) = df.filter(col("round") <= r)

  def setupPass(): Unit = run.op("load")(run.span("sources.read")(docs.count()))

  override def prepare(): Unit = {
    Files.createDirectories(Paths.get(inDir))
    run.op("load") {
      run.span("pq.build") {
        Pq.buildIvfPqIndex(upTo(vectors, -1).select("vec_id", "embedding"),
          "vec_id", "embedding", pqPath, numCentroids = 16, m = 16, k = 32,
          seed = 42L, kmeansIters = 2)
      }
      run.span("bm25.build") {
        Bm25Index.buildBm25Index(upTo(docs, -1), "doc_id", "text", bm25Path)
      }
      ingest(s"$data/base.parquet", "base.parquet")
    }
  }

  /** Place `file` in the stream's input directory (a hidden copy renamed
    * into place, so the source never lists a partial file) and wait until
    * the sink has processed it. The stream is started outside any span,
    * so its batch thread carries no span property and its jobs are
    * charged to the span open on the client thread. */
  private def ingest(file: String, name: String): Unit = {
    if (stream == null) {
      val in = spark.readStream.schema(docs.select("doc_id", "text", "n_chars").schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      stream = EventStreams.semanticIngestSink(in, corpusPath, s"$base/sketches",
        "doc_id", "text", MinHash, exactThreshold = 0.5, checkpointDir = Some(s"$base/ckpt"))
    }
    run.span("sidecar.ingest") {
      val hidden = Paths.get(s"$inDir/.$name")
      Files.copy(Paths.get(file), hidden)
      Files.move(hidden, Paths.get(s"$inDir/$name"), StandardCopyOption.ATOMIC_MOVE)
      stream.processAllAvailable()
    }
  }

  /** The curation chain over round `r`'s raw batch. */
  private def curate(r: Int): DataFrame = {
    val path = s"$data/batches/round-$r.parquet"
    val raw = run.span("sources.read")(Readers.readParquet(spark, path))
    val exact = run.span("dedup.exact") {
      Dedup.exact(raw.select("doc_id", "text", "n_chars"), Seq("text"), "doc_id")
        .select("doc_id", "text", "n_chars")
    }
    val pairs = run.span("dedup.minhash") {
      Dedup.minhashExactPairs(exact, "doc_id", "text", MinHash, exactThreshold = 0.5)
    }
    val unique = run.span("dedup.drop_near")(Dedup.dropNearDuplicates(exact, "doc_id", pairs))
    val good = run.span("curation.policy") {
      Curation.withQualityPolicy(unique, "text")
        .filter(col("keep") === 1).select("doc_id", "text", "n_chars")
    }
    val clean = run.span("curation.decontaminate") {
      val report = Curation.contaminationReport(good, "doc_id", "text",
        Readers.readParquet(spark, s"$data/bench.parquet"), "text", n = 5)
      good.join(report.filter(!col("contaminated")).select("doc_id"), Seq("doc_id"), "left_semi")
    }
    val budget = scala.io.Source.fromFile(s"$data/budget-$r.txt").mkString.trim.toLong
    run.span("sampling.budget")(Sampling.tokenBudgetSample(clean, "doc_id", "n_chars", budget))
  }

  def cycle(r: Int): Boolean = {
    if (r >= rounds) return false
    val staged = s"$stageDir/round-$r.parquet"
    run.op("write") {
      val sample = curate(r)
      run.span("sources.write") {
        Writers.saveAs(sample.select("doc_id", "text", "n_chars"), staged, singleFile = true)
      }
      ingest(staged, s"round-$r.parquet")
      run.span("bm25.append") {
        val admitted = Readers.readParquet(spark, corpusPath)
          .join(docs.filter(col("round") === r).select("doc_id"), Seq("doc_id"), "left_semi")
        Bm25Index.appendToBm25Index(admitted, "doc_id", "text", bm25Path)
      }
      run.span("pq.append") {
        Pq.appendToIvfPqIndex(vectors.filter(col("round") === r).select("vec_id", "embedding"),
          "vec_id", "embedding", pqPath)
      }
      run.span("pq.compact")(Pq.compactIvfPqIndex(spark, pqPath))
      run.span("bm25.compact")(Bm25Index.compactBm25Index(spark, bm25Path))
    }
    (0 until QueriesPerRound).foreach { b =>
      run.trace.step = b
      val batch = (r * QueriesPerRound + b) % QueryBatches
      run.op("step") {
        lastPq = run.span("pq.query") {
          Pq.queryIvfPqIndex(spark, pqPath, qvec.filter(col("batch") === batch),
            "query_id", "embedding", k = 10,
            rerankWith = Some((upTo(vectors, r), "vec_id", "embedding")))
            .select("query_id", "id").collect().map(x => (x.getLong(0), x.getLong(1)))
        }
        lastBm25 = run.span("bm25.query") {
          bm25Rows(Bm25Index.queryBm25Index(spark, bm25Path,
            qtext.filter(col("batch") === batch), "query_id", "qtext", k = 10,
            rankRoundDp = 6))
        }
      }
    }
    run.outputs(s"round$r") = s"$inDir/round-$r.parquet"
    lastRound = r
    true
  }

  private def bm25Rows(df: DataFrame): Array[(Long, Long, Long, Double)] =
    df.select(col("query_id"), col("rank").cast("long"), col("id"), round(col("score"), 6))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).sorted

  override def close(): Unit = if (stream != null) { stream.stop(); stream = null }

  /** Recall@10 of the last IVF-PQ batch against exact search over every
    * vector inserted so far, and the last BM25 batch against the same
    * query on a fresh build over the whole admitted corpus. */
  override def finish(): Unit = {
    if (lastRound < 0) return
    val batch = (lastRound * QueriesPerRound + QueriesPerRound - 1) % QueryBatches
    val truth = Similarity.bruteForceTopK(upTo(vectors, lastRound), "vec_id", "embedding",
      qvec.filter(col("batch") === batch), "query_id", "embedding", k = 10)
      .select("query_id", "id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = lastPq.count(truth.contains).toDouble / math.max(1, truth.size)
    run.check("corpus.pq_recall_at_10", recall >= RecallFloor,
      f"recall $recall%.3f, floor $RecallFloor")

    val fresh = s"$base/bm25_fresh"
    Bm25Index.buildBm25Index(Readers.readParquet(spark, corpusPath), "doc_id", "text", fresh)
    val expected = bm25Rows(Bm25Index.queryBm25Index(spark, fresh,
      qtext.filter(col("batch") === batch), "query_id", "qtext", k = 10, rankRoundDp = 6))
    run.check("corpus.bm25_equals_fresh_build", expected.sameElements(lastBm25),
      s"${lastBm25.length} rows vs ${expected.length} from a fresh build")
    run.outputs("rounds") = lastRound + 1
    run.outputs("corpus") = corpusPath
  }
}

object Corpus {
  val MinHash: Dedup.MinHashConfig = Dedup.MinHashConfig(numHashes = 128, bands = 64)
  val QueriesPerRound = 1
  val QueryBatches = 8
  /** IVF-PQ recall@10 on the generated vectors measured 0.73-0.77 across
    * seeds; the floor catches a broken index, not small quality shifts. */
  val RecallFloor = 0.65
}
