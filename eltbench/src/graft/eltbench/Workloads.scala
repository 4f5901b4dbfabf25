package graft.eltbench

import java.io.File
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{LlmPrep, Pipeline}
import graft.functions.TextAnalysis
import graft.operators.{Envelope, IdempotentAppend, NearDup, Packing, QualityReport, Sampling, WindowFilters}
import graft.plans.Schemas
import graft.sources.{HttpQboApi, PaginatedRest}
import graft.sources.PaginatedRest.{PageFetcher, RefreshingToken}

/** One benchmark workload. `setup` builds the inputs from the seed and is
  * timed; `op` and `rerun` are the two timed operations of an iteration
  * and return whether their output check passed; `between` is the untimed
  * hygiene that runs before every iteration. Traced iterations also fill
  * `counts` with the workload's per-layer counts. */
abstract class Workload(val spark: SparkSession, val work: File, val seed: Long) {
  def setup(): Unit
  def op(t: Tracer, counts: mutable.Map[String, Double]): Boolean
  def rerun(t: Tracer, counts: mutable.Map[String, Double]): Boolean
  def between(): Unit = {
    spark.catalog.clearCache()
    NearDup.releaseMaterialized()
  }
  /** Input sizes, reported with the per-layer metrics. */
  def facts: Map[String, Double]
  /** Counts that cost a separate pass, taken once after the timed loop. */
  def finalCounts(): Map[String, Double] = Map.empty
  /** Metrics shown in the summary but not in the result's metric set. */
  def extras: Map[String, Double] = Map.empty
  def close(): Unit

  protected def freshDir(tag: String): String =
    new File(work, s"$tag-${UUID.randomUUID()}").getAbsolutePath
}

object Workload {
  def apply(name: String, spark: SparkSession, work: File, seed: Long): Workload =
    name match {
      case "increment_replay" => new IncrementReplay(spark, work, seed)
      case "llm_prep" => new LlmPrepWorkload(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (relative path -> bytes) of every data file under `dir`. */
  def dataFiles(dir: File): Map[String, Long] = {
    val root = dir.toPath
    if (!dir.exists()) Map.empty
    else {
      val it = java.nio.file.Files.walk(root).iterator()
      val out = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (java.nio.file.Files.isRegularFile(p) && !name.startsWith(".") &&
            !name.startsWith("_"))
          out += root.relativize(p).toString -> java.nio.file.Files.size(p)
      }
      out.result()
    }
  }
}

/** The idempotent-append path against a large sink. Setup seeds the sink
  * with a history (through `IdempotentAppend.toBucketedParquet`, in
  * `Pipeline.run`'s bucket layout) many times the increment, and starts
  * the fixture QBO server with the increment's pages, of which about half
  * the ids are already in the history. The op is `Pipeline.run` over the
  * increment followed by the `QualityReport` epilogue; the rerun is the
  * identical call, which must insert 0. Before every iteration the sink
  * is restored to its seeded file set. Untraced, `Pipeline.run` is called
  * as is; traced, it is re-composed from the same public calls, one span
  * each. */
final class IncrementReplay(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  val HistoryRows = 40000
  val IncrementRecords = 750
  val KeepShare = 0.9
  val ThrottleShare = 0.1
  /** `Pipeline.run`'s bucket count (its default argument). */
  val Buckets: Int = Pipeline.run$default$6

  private var fixture: QboFixture = _
  private var fetcher: PageFetcher = _
  private var sink: String = _
  private var seeded: Set[String] = Set.empty
  private var expectedKept = 0L
  private var expectedNew = 0L
  /** Rows in the sink before the current `Pipeline.run` call. */
  private var sinkRows = 0L
  private var servedByOp = 0L
  private var bytesPerPayloadByte = 0.0

  private def history(from: Long, until: Long): DataFrame = {
    val day = date_format(date_add(to_date(lit(Customers.Lo)), (col("id") % 540).cast("int")),
      "yyyy-MM-dd")
    val customers = spark.range(from, until).select(
      col("id").cast("string").as("Id"),
      concat(lit("Customer "), col("id")).as("DisplayName"),
      concat(lit("Company "), (col("id") * 7919 % 50000).cast("string")).as("CompanyName"),
      (col("id") % 10 =!= 0).as("Active"),
      (col("id") % 2 === 0).as("Taxable"),
      (col("id") * 37 % 1000000 / 100.0).as("Balance"),
      struct(lit("USD").as("value"), lit("United States Dollar").as("name")).as("CurrencyRef"),
      struct(concat(lit("c"), col("id"), lit("@example.com")).as("Address")).as("PrimaryEmailAddr"),
      struct(lit("2023-03-01T09:15:00-07:00").as("CreateTime"),
        concat(day, lit("T12:00:00-07:00")).as("LastUpdatedTime")).as("MetaData"))
    Envelope.project(customers, col("Id"), "customer", Customers.Lo, Customers.Hi)
  }

  def setup(): Unit = {
    val rng = new java.util.Random(seed)
    val known = Iterator.continually(1L + rng.nextInt(HistoryRows)).distinct
      .take(IncrementRecords / 2).toArray
    val fresh = Array.tabulate(IncrementRecords - known.length)(i => HistoryRows + 1L + i)
    val ids = new scala.util.Random(rng.nextLong()).shuffle((known ++ fresh).toSeq).toArray
    val customers = Customers.generate(seed, ids, KeepShare)
    expectedKept = customers.keptIds.size
    expectedNew = customers.keptIds.count(_ > HistoryRows)
    if (fixture != null) fixture.stop()
    fixture = new QboFixture(customers, 100, ThrottleShare, seed)
    val tokens = new RefreshingToken(HttpQboApi.oauthTokenFetch(
      s"${fixture.baseUrl}/token", fixture.clientId, fixture.clientSecret))
    fetcher = HttpQboApi.HttpPageFetcher(s"${fixture.baseUrl}/query", "Customer", tokens)
    if (sink != null) Workload.deleteTree(new File(sink))
    sink = freshDir("history-sink")
    IdempotentAppend.toBucketedParquet(history(1L, HistoryRows + 1L), sink, "id", Buckets)
    seeded = Workload.dataFiles(new File(sink)).keySet
  }

  /** Restores the sink to its seeded file set. */
  override def between(): Unit = {
    super.between()
    val files = Workload.dataFiles(new File(sink))
    val added = files.keySet -- seeded
    if (servedByOp > 0)
      bytesPerPayloadByte = added.iterator.map(files).sum.toDouble / servedByOp
    added.foreach(p => new File(sink, p).delete())
    sinkRows = HistoryRows
  }

  def op(t: Tracer, counts: mutable.Map[String, Double]): Boolean = t.span("op") {
    val served0 = fixture.bytesServed.get
    val r = pipeline(t, counts)
    servedByOp = fixture.bytesServed.get - served0
    val q = t.span("report") {
      QualityReport(spark.read.parquet(sink), "id", "ingested_at_utc").head()
    }
    val total = HistoryRows + expectedNew
    r.filtered == expectedKept && r.inserted == expectedNew &&
      q.getAs[Long]("total") == total && q.getAs[Long]("distinct_ids") == total &&
      q.getAs[Long]("null_ids") == 0L && q.getAs[Long]("duplicate_ids") == 0L
  }

  def rerun(t: Tracer, counts: mutable.Map[String, Double]): Boolean = t.span("op") {
    val r = pipeline(t, counts)
    r.filtered == expectedKept && r.inserted == 0L
  }

  /** One `Pipeline.run` over the increment with the window
    * [[Customers.Lo]]..[[Customers.Hi]]; traced, it adds this call's
    * per-layer counts to `counts`. */
  private def pipeline(t: Tracer, counts: mutable.Map[String, Double]): Pipeline.RunReport = {
    fixture.newEpoch()
    if (!t.on) return Pipeline.run(spark, fetcher, sink, Customers.Lo, Customers.Hi)
    val (q0, th0, tok0, b0) = (fixture.queries.get, fixture.throttles.get,
      fixture.tokenCalls.get, fixture.bytesServed.get)
    val files0 = Workload.dataFiles(new File(sink))
    FetchStats.reset()
    var rowsOut, probeRows = 0L
    val report = t.span("pipeline") {
      val raw = t.span("sources.read") {
        PaginatedRest.read(spark, CountingFetcher(fetcher), pageSize = 100)
      }
      val (windowed, env) = t.span("transform") {
        val parsed = PaginatedRest.parsed(raw, Schemas.customer).select(col("rec.*"))
        val windowed = WindowFilters.dateWindow(parsed,
          col("MetaData.LastUpdatedTime"), Customers.Lo, Customers.Hi)
        val env = Envelope.project(windowed, col("Id"), "customer",
          Customers.Lo, Customers.Hi).persist()
        rowsOut = env.count()
        (windowed, env)
      }
      val scanned = t.counters.scannedRows()
      val inserted = t.span("sink.append") {
        IdempotentAppend.toBucketedParquet(env, sink, "id", Buckets)
      }
      probeRows = t.counters.scannedRows() - scanned
      val report = Pipeline.RunReport(windowed.count(), inserted)
      env.unpersist()
      report
    }
    val files1 = Workload.dataFiles(new File(sink))
    val added = files1.keySet -- files0.keySet
    val read = t.spans.reverseIterator.find(_.name == "sources.read").get
    def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
    add("sources.page_fetches", FetchStats.ok.get)
    add("sources.nonempty_fetches", FetchStats.nonEmpty.get)
    add("sources.retries", FetchStats.throttled.get)
    add("sources.fetch_busy_s", FetchStats.busyNanos.get / 1e9)
    add("sources.read_wall_s", (read.end - read.start) / 1e9)
    add("sources.http_requests", fixture.queries.get - q0)
    add("sources.throttled", fixture.throttles.get - th0)
    add("sources.token_calls", fixture.tokenCalls.get - tok0)
    add("sources.bytes_served", fixture.bytesServed.get - b0)
    add("transform.rows_in", FetchStats.records.get)
    add("transform.rows_out", rowsOut)
    add("sink.rows_before", sinkRows)
    add("sink.probe_rows_read", probeRows)
    add("sink.rows_inserted", report.inserted)
    add("sink.files_written", added.size)
    add("sink.bytes_written", added.iterator.map(files1).sum)
    sinkRows += report.inserted
    report
  }

  def facts: Map[String, Double] = Map(
    "input.records" -> IncrementRecords.toDouble,
    "input.pages" -> fixture.pageCount.toDouble,
    "input.throttled_pages" -> fixture.throttledPages.toDouble,
    "input.window_rows" -> expectedKept.toDouble,
    "input.new_ids" -> expectedNew.toDouble,
    "input.sink_rows" -> HistoryRows.toDouble,
    "input.sink_files" -> seeded.size.toDouble)

  override def extras: Map[String, Double] =
    Map("sink_bytes_per_payload_byte" -> bytesPerPayloadByte)

  def close(): Unit = {
    if (fixture != null) fixture.stop()
    if (sink != null) Workload.deleteTree(new File(sink))
  }
}

/** `LlmPrep.run` over a generated corpus, read from parquet. The corpus
  * stays under `NearDup.LocalCellBound`, so `minhashPairs` takes its local
  * path (the distributed one does not fit the run budget). The op starts
  * with no materialized near-dup results; the rerun is the same call right
  * after, in the same session. */
final class LlmPrepWorkload(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work, seed) {
  val Docs = 12000
  val ExactFamilies = 250
  val NearFamilies = 250
  private var corpus: Corpus = _
  private var path: String = _
  private var docs: DataFrame = _
  private var fingerprint: Option[(Long, Long)] = None
  /** Stage outputs a traced op materialized, released once it ends. */
  private var live = List.empty[DataFrame]

  def setup(): Unit = {
    corpus = Corpus.generate(seed, Docs, ExactFamilies, NearFamilies)
    if (path != null) Workload.deleteTree(new File(path))
    path = freshDir("corpus")
    val rows = java.util.Arrays.asList(corpus.ids.indices.map(i =>
      Row(corpus.ids(i), corpus.sources(i), corpus.texts(i))): _*)
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("source", StringType), StructField("text", StringType)))
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(path)
    docs = spark.read.parquet(path)
    fingerprint = None
  }

  private def run(t: Tracer, counts: mutable.Map[String, Double]): DataFrame =
    if (!t.on) LlmPrep.run(docs)
    else t.span("llmprep") {
      // LlmPrep.run's stages with its default arguments, each materialized
      // inside its own span
      def mat(df: DataFrame): DataFrame = { df.persist(); df.count(); live ::= df; df }
      val scrubbed = t.span("text.scrub") {
        mat(docs.withColumn("text", TextAnalysis.scrubPii(col("text"))))
      }
      val exact = t.span("neardup.exact") {
        mat(NearDup.exactByContent(scrubbed, "text", "doc_id"))
      }
      val pairs = t.span("neardup.minhash") {
        NearDup.minhashPairs(exact, "doc_id", "text", threshold = 0.8)
      }
      val pruned = mat(exact.join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      val kept = t.span("text.quality") {
        mat(TextAnalysis.withLangId(pruned.withColumn("quality",
          TextAnalysis.qualityScore(col("text"))), "text").filter(col("quality") > 0.7))
      }
      val split = t.span("sampling.split") {
        mat(Sampling.hashSplit(kept, col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      }
      val packed = t.span("packing.pack") {
        mat(Packing.packBySize(split.withColumn("n_toks", TextAnalysis.tokenCount(col("text"))),
          Seq("source", "split"), "doc_id", col("n_toks"), 512))
      }
      counts("neardup.exact_rows_out") = exact.count()
      counts("neardup.pairs") = pairs.count()
      packed
    }

  /** Runs the prep and checks its output: every planted family keeps at
    * most one document, and the order-independent fingerprint (row count,
    * sum of row hashes) matches the first operation's. */
  private def checked(t: Tracer, counts: mutable.Map[String, Double]): Boolean = t.span("op") {
    val out = run(t, counts)
    val rows = out.select(col("doc_id"), xxhash64(out.columns.map(col): _*)).collect()
    live.foreach(_.unpersist())
    live = Nil
    val fp = (rows.length.toLong, rows.iterator.map(_.getLong(1)).sum)
    val survivors = rows.iterator.map(_.getLong(0)).toSet
    val familiesOk = corpus.families.forall(_.count(survivors) <= 1)
    if (fingerprint.isEmpty) fingerprint = Some(fp)
    familiesOk && fingerprint.contains(fp) && rows.nonEmpty
  }

  def op(t: Tracer, counts: mutable.Map[String, Double]): Boolean = {
    NearDup.releaseMaterialized()
    checked(t, counts)
  }

  def rerun(t: Tracer, counts: mutable.Map[String, Double]): Boolean = checked(t, counts)

  def facts: Map[String, Double] = Map(
    "input.corpus_docs" -> Docs.toDouble,
    "input.families" -> corpus.families.length.toDouble,
    "input.shingle_cells" -> corpus.shingleCells.toDouble,
    "neardup.distributed_path" ->
      (if (corpus.shingleCells > NearDup.LocalCellBound) 1.0 else 0.0))

  /** Candidate pairs from the banding stage, which `minhashPairs` keeps
    * internal: counted once with the same public calls and defaults. */
  override def finalCounts(): Map[String, Double] = {
    val exact = NearDup.exactByContent(
      docs.withColumn("text", TextAnalysis.scrubPii(col("text"))), "text", "doc_id")
    val sh = NearDup.hashedShingles(exact, "doc_id", "text", 3).persist()
    val cells = sh.agg(sum(size(col("hs")))).head().getLong(0)
    val candidates = NearDup.minhashCandidates(sh).count()
    sh.unpersist()
    Map("neardup.candidates" -> candidates.toDouble,
      "input.shingle_cells" -> cells.toDouble,
      "neardup.distributed_path" -> (if (cells > NearDup.LocalCellBound) 1.0 else 0.0))
  }

  def close(): Unit = if (path != null) Workload.deleteTree(new File(path))
}
