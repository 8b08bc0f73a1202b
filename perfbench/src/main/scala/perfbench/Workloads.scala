package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{Engine, MapReduce}

/** One benchmark workload: its inputs are generated outside the JVM
  * (`run.py`) and passed in as files. `op` is one closed-loop request;
  * it returns the check of its outputs, which runs after the op's
  * timing window closes. */
trait Workload {
  /** Input bytes one op consumes (for the throughput metric). */
  def inputBytes: Long
  /** Input items one op consumes: text files, or documents. */
  def inputItems: Long
  /** Cold work a fresh state root needs before timed ops: one op. */
  def setup(spark: SparkSession, state: File, spans: Spans): () => Boolean =
    spans("setup")(op(spark, state, spans))
  def op(spark: SparkSession, state: File, spans: Spans): () => Boolean
  /** No input is left for another op. */
  def exhausted: Boolean = false
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, input: File): Workload = name match {
    case "wordcount" => new WordCount(input)
    case "ingest_stream" => new IngestStream(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def lines(f: File): Seq[String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty)
}

/** The reference's word count over generated text, in three forms:
  * the iterator Reduce through `Engine.submit` (no combiner), the
  * `FoldAggregator` Reduce (map-side combine), and the library's own
  * `q_wordcount` query through `SparkEntry.queries` over the same text
  * as a documents table (one line per document). Each result is
  * compared with the oracle count `run.py` made in DuckDB. */
final class WordCount(input: File) extends Workload {
  private val files = new File(input, "text").listFiles()
    .filter(_.getName.endsWith(".txt")).map(_.getAbsolutePath).sorted.toSeq
  private val expected: Map[String, Long] =
    Workload.lines(new File(input, "oracle.tsv")).map { l =>
      val i = l.lastIndexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  private val docsDir = new File(input, "sf").getAbsolutePath
  val inputBytes: Long = files.map(new File(_).length).sum
  val inputItems: Long = files.size.toLong

  def op(spark: SparkSession, state: File, spans: Spans): () => Boolean = {
    import spark.implicits._
    import WordCount.split
    val iter = spans("engine.wc_iter") {
      val ds = spans("build")(Engine(spark).submit[String, Long, Long](files)(split)(
        (_, vs) => vs.sum))
      spans("action")(ds.collect())
    }
    val fold = spans("engine.wc_fold") {
      val ds = spans("build") {
        val sum = new MapReduce.FoldAggregator[Long, Long, Long](
          0L, _ + _, _ + _, identity)
        MapReduce.mapFlat(spark.read.textFile(files: _*))(split)
          .groupByKey(_._1).mapValues(_._2).agg(sum.toColumn)
      }
      spans("action")(ds.collect())
    }
    val query = spans("queries.q_wordcount") {
      val df = spans("build")(graft.SparkEntry.queries("q_wordcount")(spark, docsDir))
      spans("action")(df.as[(String, Long)].collect())
    }
    () => same(iter) && same(fold) && same(query)
  }

  private def same(got: Array[(String, Long)]): Boolean =
    got.length == expected.size && got.forall { case (w, n) => expected.get(w).contains(n) }
}

object WordCount {
  /** The Map UDF of the reference's `test/wordCount.go`: split on
    * non-letters, case-sensitive, emit (word, 1). */
  val split: String => Iterator[(String, Long)] =
    line => line.split("[^\\p{L}]+").iterator.filter(_.nonEmpty).map(w => (w, 1L))
}

/** Seeded-order micro-batches of the documents through one
  * `Streams.ingestDedupStream` query fed by a `MemoryStream`, on a fresh
  * band index, admitted table and checkpoint per set-up. Set-up feeds
  * the first two batches (the first builds the index, the second is the
  * first append); each op is one more batch: dedup against the stored
  * index, admit the keepers, append them. The keepers of every batch
  * must equal `run.py`'s replay of the first-keeper rule for the same
  * order. */
final class IngestStream(input: File) extends Workload {
  private val batches: IndexedSeq[Seq[(Long, String)]] = {
    val docs = Workload.lines(new File(input, "batches.tsv")).map { l =>
      val Array(b, id, text) = l.split("\t", 3)
      (b.toInt, id.toLong, text)
    }
    docs.groupBy(_._1).toIndexedSeq.sortBy(_._1).map(_._2.map(d => (d._2, d._3)))
  }
  private val expected: Map[Long, Set[Long]] =
    Workload.lines(new File(input, "expected.tsv")).map { l =>
      val Array(id, b) = l.split("\t"); (b.toLong, id.toLong)
    }.groupMap(_._1)(_._2).map { case (b, ids) => b -> ids.toSet }
  val inputBytes: Long =
    batches.flatten.map(_._2.getBytes(UTF_8).length.toLong).sum / batches.size
  val inputItems: Long = batches.map(_.size.toLong).sum / batches.size

  private var source: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var admitted: String = _
  private var next = 0

  override def setup(spark: SparkSession, state: File, spans: Spans): () => Boolean =
    spans("setup") {
      close()
      import spark.implicits._
      val root = state.getAbsolutePath
      source = MemoryStream[(Long, String)](spark)
      admitted = s"$root/admitted"
      query = spans("build")(graft.streaming.Streams.ingestDedupStream(
        source.toDF().toDF("doc_id", "text"), s"$root/bandidx", admitted,
        s"$root/checkpoint"))
      next = 0
      val checks = Seq.fill(2)(feed(spark, spans))
      () => checks.forall(_())
    }

  def op(spark: SparkSession, state: File, spans: Spans): () => Boolean =
    feed(spark, spans)

  override def exhausted: Boolean = next >= batches.size

  override def close(): Unit = if (query != null) query.stop()

  private def feed(spark: SparkSession, spans: Spans): () => Boolean = {
    import spark.implicits._
    val b = next
    next += 1
    spans("stream.batch")(spans("action") {
      source.addData(batches(b): _*)
      query.processAllAvailable()
    })
    () => spark.read.parquet(admitted).where($"batch" === b).select($"doc_id")
      .as[Long].collect().toSet == expected.getOrElse(b.toLong, Set.empty)
  }
}
