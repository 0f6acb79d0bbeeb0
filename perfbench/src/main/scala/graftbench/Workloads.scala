package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Checkpoints.TruncateOps
import graft.license.{AmslConfigBuilder, AmslRow, FilterExpr, Kbart, Licensing, RecordCols}
import graft.llm.{BandStore, Corpus, Dedup, PackStore, TextAnalysis, TokenizerStore}
import graft.normalize.Crossref
import graft.pipeline.{AiUpdate, TaskRunner}

/** Parameters shared by the workloads and stated in the README. */
object Params {
  val LshThreshold = 0.7
  val LshBands = 16
  val LshRows = 6
  val LshBucketCap = 100
  val Shards = 8
  val BudgetTokens = 2048
  val Tokenizer = TokenizerStore.Params(merges = 4, minCount = 1L)
  val Bands = BandStore.Params(shingleN = 1, bands = LshBands,
    rowsPerBand = LshRows, portable = false)
  val Pack = PackStore.Params(Shards, BudgetTokens)
  /** No per-stratum cut: every curated document is kept. */
  val NoQuota = 1000000000

  def facts: Map[String, Any] = Map(
    "lsh_threshold" -> LshThreshold, "budget_tokens" -> BudgetTokens.toDouble)
}

/** The curation funnel (repetition/Gopher/quality gates, repeated-passage
  * coverage, canonical member per fingerprint, per-stratum quota) composed
  * from the `llm` layer's public operators with the parameters of the
  * registered crawl curation query, so the `pipe32_warc_curation` oracle
  * checks it. Input (doc_id, lang, text); output (doc_id, lang, quality). */
object Funnel {
  def apply(docs: DataFrame, quota: Int): DataFrame = {
    val cov = Dedup.passageCoverage(docs, "doc_id", "text",
        w = 8, stride = 4, minDocs = 2, threshold = 0.5, portable = false)
      .select(col("doc").as("doc_id"), col("keep").as("cov_keep"))
    val scored = TextAnalysis.funnelStats(docs, "text", minWords = 40,
        maxMeanWordLen = 10.0, minStopHits = 1, native = true)
      .filter(col("quality") >= 0.6 && col("rep_keep") && col("gop_keep"))
      .select("doc_id", "lang", "quality", "fp")
    val uniq = scored.join(cov, Seq("doc_id")).filter(col("cov_keep"))
      .withColumn("__min_id", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("__min_id"))
    Corpus.stratifiedQuota(uniq, "doc_id", "lang", quota, "cur")
      .select("doc_id", "lang", "quality")
  }
}

/** Bytes written through the Hadoop local file system (every artifact
  * and store write; shuffle and checkpoint blocks are not files). */
object Written {
  def bytes(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }
}

object Io {
  def readIds(path: String): Seq[Long] =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      .replaceAll("[\\[\\]\\s]", "").split(",").filter(_.nonEmpty)
      .map(_.toLong).toSeq

  def writeText(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}

// ---------------------------------------------------------------------

/** The paper's nightly AI build: Crossref snapshot → intermediate schema,
  * the AiUpdate DAG (union → analyze/OA flag → groupcover → export), and
  * license tagging of the Crossref records. */
final class AiUpdateWorkload(spark: SparkSession, data: String,
                             steps: Main.Steps) extends Workload {
  import spark.implicits._

  private val AsOf = java.time.LocalDate.of(2026, 1, 1)
  private val Date = "bench"
  private val members = Seq(
    "10.1000" -> "Alpha Press", "10.1001" -> "Beta Works",
    "10.1002" -> "Gamma Publishing", "10.1003" -> "Delta House",
    "10.1004" -> "Epsilon Media").toDF("prefix", "name")

  private var nDocs = 0L
  private var nMsgs = 0L
  private var msgBytes = 0L
  private var amsl: Seq[AmslRow] = Nil

  def records: Long = nDocs + nMsgs

  def setup(): Unit = {
    nDocs = spark.read.parquet(s"$data/documents.parquet").count()
    val m = spark.read.parquet(s"$data/messages.parquet")
      .agg(count(lit(1)), sum(length(col("msg_json")))).head()
    nMsgs = m.getLong(0)
    msgBytes = m.getLong(1)
    amsl = readAmsl(s"$data/amsl.json")
  }

  private def readAmsl(path: String): Seq[AmslRow] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val js = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def opt(o: JValue, k: String): Option[String] = o \ k match {
      case JString(s) => Some(s)
      case _          => None
    }
    js.asInstanceOf[JArray].arr.map { o =>
      AmslRow(opt(o, "ISIL").get, opt(o, "sourceID").get,
        opt(o, "megaCollection").get, opt(o, "technicalCollectionID"),
        opt(o, "linkToHoldingsFile"), opt(o, "linkToContentFile"),
        opt(o, "externalLinkToContentFile"), opt(o, "productISIL"),
        opt(o, "evaluateHoldingsFileForLibrary"))
    }
  }

  private val KbartSchema = org.apache.spark.sql.types.StructType.fromDDL(
    Seq("publication_title", "print_identifier", "online_identifier",
      "date_first_issue_online", "num_first_vol_online",
      "num_first_issue_online", "date_last_issue_online",
      "num_last_vol_online", "num_last_issue_online", "title_url",
      "first_author", "title_id", "embargo_info", "coverage_depth", "notes",
      "publisher_name").map(c => s"$c STRING").mkString(", "))

  /** One KBART file as the tagger's holdings frame: a row per print and
    * per online identifier, blank dates open-ended, embargo parsed. */
  private def holdings(name: String): DataFrame = {
    val k = spark.read.schema(KbartSchema).option("header", "true")
      .option("sep", "\t").csv(s"$data/kbart/$name")
    val emb = Kbart.parseEmbargo(col("embargo_info"))
    k.select(
      explode(filter(array(col("print_identifier"), col("online_identifier")),
        x => x.isNotNull && x =!= "")).as("issn"),
      col("date_first_issue_online").as("date_first"),
      col("date_last_issue_online").as("date_last"),
      emb("days").as("embargo_days"), emb("method").as("embargo_method"))
  }

  private val recordCols = RecordCols(
    id = col("record_id"),
    sourceId = col("source_id"),
    collections = array(col("mega_collection")),
    issns = filter(split(concat_ws(",", col("issns"), col("eissns")), ","),
      x => x =!= ""),
    subjects = split(col("subjects"), ","),
    date = col("date"))

  def round(dir: String): Unit = {
    steps.run("normalize.crossref_snapshot") {
      val raw = spark.read.parquet(s"$data/messages.parquet")
      val snap = Crossref.snapshotLatest(Crossref.parse(raw, "msg_json"))
      Crossref.withCollections(Crossref.toIntermediate(snap, AsOf), members)
        .write.parquet(s"$dir/crossref_is")
    }
    // The AiUpdate DAG one task at a time, exactly as `AiUpdate.run`
    // builds it: each call builds one new artifact and reads its finished
    // upstream back, so traced and untraced rounds run the same code.
    val runner = new TaskRunner(spark, s"$dir/ai")
    val union = new AiUpdate.SourceUnion(data, Date)
    val analyzed = new AiUpdate.Analyzed(union, Date)
    val dedup = new AiUpdate.Deduplicated(analyzed, Date)
    val export = new AiUpdate.Export(dedup, Date)
    steps.run("pipeline.source_union")(runner.run(union))
    steps.run("pipeline.analyzed")(runner.run(analyzed))
    steps.run("operators.groupcover")(runner.run(dedup))
    steps.run("export.solr")(runner.run(export))
    steps.run("license.tag") {
      val configs = AmslConfigBuilder.build(amsl)
      val refs = configs.values.flatMap(FilterExpr.holdingsRefs).toSeq.distinct
      Licensing.tag(spark.read.parquet(s"$dir/crossref_is"), recordCols,
          configs, refs.map(n => n -> holdings(n)).toMap, AsOf.toString)
        .select("record_id", "x_labels")
        .write.parquet(s"$dir/tagged")
    }
  }

  override def layerExtras(dir: String,
                           per: Map[String, Double]): Map[String, Any] = {
    val ai = s"$dir/ai"
    val analyzed = spark.read.parquet(s"$ai/analyzed/date=$Date")
    val dedup = spark.read.parquet(s"$ai/deduplicated/date=$Date")
    val relabeled = analyzed.select(col("doc_id"), size(col("labels")).as("n0"))
      .join(dedup.select(col("doc_id"), size(col("labels")).as("n1")), "doc_id")
      .filter(col("n0") =!= col("n1")).count()
    val tagged = spark.read.parquet(s"$dir/tagged")
    val nTagged = tagged.count()
    val labeled = tagged.filter(size(col("x_labels")) > 0).count()
    Map(
      "normalize.crossref_snapshot.mb_per_s" ->
        msgBytes / 1e6 / per("normalize.crossref_snapshot.s"),
      "operators.groupcover.relabeled_ratio" -> relabeled.toDouble / nDocs,
      "license.tag.records_per_s" -> nTagged / per("license.tag.s"),
      "license.tag.labeled_ratio" -> labeled.toDouble / nTagged,
      "pipeline.task_written_mb" -> Main.dirBytes(ai) / 1e6)
  }

  def checkOutputs(dir: String, checks: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Seq("pipe8_crossref_snapshot", "pipe14_ai_update").foreach { q =>
      Io.writeText(s"$checks/$q.sql", sql(q))
    }
    Io.writeText(s"$checks/filter_config.json",
      FilterExpr.toJson(AmslConfigBuilder.build(amsl)))
  }

  override def checkFacts: Map[String, Any] = Map("as_of" -> AsOf.toString)
}

// ---------------------------------------------------------------------

/** A full crawl → corpus build from `.warc.gz` pages, then one nightly
  * increment against the stores the build wrote: incremental LSH probe
  * and band append, curate → tokenize → pack append from the watermark,
  * a takedown across both stores, and a serve read. */
final class CorpusBuildWorkload(spark: SparkSession, data: String,
                                work: String, steps: Main.Steps)
    extends Workload {
  import spark.implicits._

  private val tokDir = s"$work/tokenizer"
  private var nPages = 0L
  private var nInc = 0L
  private var serveRows = 0L
  private var last: (DataFrame, DataFrame, DataFrame) = _
  private lazy val takedown =
    Io.readIds(s"$data/takedown.json").toDF("doc_id")
  private def increment =
    spark.read.parquet(s"$data/increment.parquet").select("doc_id", "lang", "text")

  def records: Long = nPages + nInc

  def setup(): Unit = {
    nPages = spark.read.parquet(s"$data/documents.parquet").count()
    nInc = increment.count()
    TokenizerStore.build(spark.read.parquet(s"$data/tok_ref.parquet"),
      "doc_id", "text", tokDir, Params.Tokenizer)
    graft.plans.TextDecodeExpr.register(spark)
  }

  private def tokenize(name: String, docs: DataFrame): DataFrame =
    steps.frame(name) {
      TokenizerStore.tokenCounts(spark, tokDir, Params.Tokenizer, docs,
        "doc_id", "text")
    }

  private def placementCols(df: DataFrame): DataFrame =
    df.select("doc_id", "shard", "seq_idx", "tok_offset", "n_bpe_tokens")

  def round(dir: String): Unit = {
    import graft.functions.Urls
    val pages = steps.frame("sources.warc") {
      graft.sources.Warc.records(spark, s"$data/pages")
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(
          regexp_extract(col("target_uri"), "/p/([0-9]+)", 1).cast("long")
            .as("doc_id"),
          coalesce(Urls.urlRegisteredDomain(col("target_uri")),
            lit("__none__")).as("lang"),
          col("payload"))
    }
    val extracted = steps.frame("plans.html_extract") {
      val html = pages.select(col("doc_id"), col("lang"),
        call_function(graft.plans.TextDecodeExpr.Name, col("payload"))
          .getField("text").as("html"))
      TextAnalysis.htmlExtractStats(html, "html", native = true)
        .select(col("doc_id"), col("lang"),
          replace(col("text"), lit("\n"), lit(" ")).as("text"))
        .truncateLineage()
    }
    val curated = steps.frame("llm.funnel") {
      Funnel(extracted, Params.NoQuota).truncateLineage()
    }
    val curatedDocs = extracted.select("doc_id", "text")
      .join(broadcast(curated.select("doc_id")), Seq("doc_id"))
    val pairs = steps.frame("llm.minhash_lsh") {
      Dedup.minhashLshPairs(curatedDocs, "doc_id", "text",
        threshold = Params.LshThreshold, bands = Params.LshBands,
        rowsPerBand = Params.LshRows,
        maxBucketSize = Some(Params.LshBucketCap)).truncateLineage()
    }
    steps.run("llm.dup_groups") {
      Dedup.duplicateGroups(pairs).write.parquet(s"$dir/dup_groups")
    }
    val budgets = tokenize("llm.tokenize", curatedDocs)
    steps.run("llm.pack") {
      val placements = Corpus.packSequences(
        budgets.join(broadcast(curated.select("doc_id", "lang")), Seq("doc_id")),
        "doc_id", col("n_bpe_tokens"), Params.Shards, Params.BudgetTokens,
        seed = "pt")
      PackStore.write(placementCols(placements), s"$dir/pack", Params.Pack)
    }
    steps.run("llm.bandstore_build") {
      BandStore.build(curatedDocs, "doc_id", "text", s"$dir/bands", Params.Bands)
    }
    last = (extracted, curated, pairs)

    // The nightly increment, O(increment) against the persisted stores.
    val inc = increment
    steps.run("llm.lsh_incremental") {
      val (incPairs, release) = Dedup.minhashLshPairsIncrementalReleasable(
        curatedDocs, inc, "doc_id", "text",
        threshold = Params.LshThreshold, bands = Params.LshBands,
        rowsPerBand = Params.LshRows,
        maxBucketSize = Some(Params.LshBucketCap),
        corpusBands = Some(BandStore.read(spark, s"$dir/bands", Params.Bands)))
      incPairs.write.parquet(s"$dir/inc_pairs")
      release()
    }
    steps.run("llm.bandstore_append") {
      BandStore.append(inc, "doc_id", "text", s"$dir/bands", Params.Bands)
    }
    val incCurated = steps.frame("llm.inc_funnel") {
      Funnel(inc, Params.NoQuota).truncateLineage()
    }
    val incBudgets = tokenize("llm.inc_tokenize",
      inc.join(broadcast(incCurated.select("doc_id")), Seq("doc_id")))
    steps.run("llm.packstore_append") {
      val wm = Corpus.packWatermark(
        PackStore.readPlacements(spark, s"$dir/pack", Params.Pack),
        col("n_bpe_tokens"), Params.BudgetTokens)
      val placements = Corpus.packSequencesAppend(
        incBudgets.join(broadcast(incCurated.select("doc_id", "lang")),
          Seq("doc_id")),
        "doc_id", col("n_bpe_tokens"), Params.Shards, Params.BudgetTokens,
        seed = "pt", wm)
      PackStore.append(placementCols(placements), s"$dir/pack", Params.Pack)
    }
    steps.run("llm.takedown") {
      BandStore.delete(spark, s"$dir/bands", takedown)
      PackStore.tombstone(spark, s"$dir/pack", takedown)
    }
    steps.run("llm.packstore_serve") {
      val r = PackStore.serve(spark, s"$dir/pack", Params.Pack)
        .agg(count(lit(1))).head()
      serveRows = r.getLong(0)
    }
  }

  override def layerExtras(dir: String,
                           per: Map[String, Double]): Map[String, Any] =
    Map("llm.funnel.kept_ratio" -> last._2.count().toDouble / nPages)

  def checkOutputs(dir: String, checks: String): Unit = {
    val (extracted, curated, pairs) = last
    Io.writeText(s"$checks/pipe32_warc_curation.sql",
      graft.SparkEntry.oracleSql("pipe32_warc_curation"))
    // The registered query's per-domain cut of 25 over the same funnel,
    // on the pages the DuckDB oracle replays in a few seconds.
    Funnel(extracted.filter(col("doc_id") <= CorpusBuildWorkload.OracleDocs), 25)
      .select(col("doc_id"), col("lang").as("domain"), col("quality"))
      .write.parquet(s"$checks/pipe32")
    // The timed round's own funnel input and output, which checks.py
    // re-derives over every page; and the stopword lists its gates use.
    extracted.write.parquet(s"$checks/extracted")
    curated.write.parquet(s"$checks/curated")
    def words(ws: Seq[String]) = ws.map("\"" + _ + "\"").mkString("[", ",", "]")
    Io.writeText(s"$checks/stopwords.json",
      s"""{"en":${words(TextAnalysis.EnStopwords)},""" +
        s""""gopher":${words(TextAnalysis.GopherStopwords)}}""")
    pairs.write.parquet(s"$checks/pairs")
    val curatedDocs = extracted.join(curated.select("doc_id"), "doc_id")
      .select("doc_id", "text")

    // The stores after the increment and the takedown against a build
    // from scratch over the build's curated pages and the increment
    // (each batch curated within itself, the nightly discipline).
    val inc = increment
    val bandsScratch = Dedup.minhashBandTable(
        curatedDocs.unionByName(inc.select("doc_id", "text")), "doc_id",
        "text", 1, Params.LshBands, Params.LshRows, portable = false)
      .join(broadcast(takedown.select(col("doc_id").as("doc"))), Seq("doc"),
        "left_anti")
    val bands = BandStore.read(spark, s"$dir/bands", Params.Bands)
      .select("doc", "band", "bucket")
    val packScratch = Seq(curatedDocs, inc.join(
          broadcast(Funnel(inc, Params.NoQuota).select("doc_id")), "doc_id"))
      .map(d => TokenizerStore.tokenCounts(spark, tokDir, Params.Tokenizer,
        d.select("doc_id", "text"), "doc_id", "text"))
      .reduce(_.unionByName(_)).select("doc_id", "n_bpe_tokens")
      .join(broadcast(takedown), Seq("doc_id"), "left_anti")
    bandsScratch.write.parquet(s"$checks/bands_scratch")
    packScratch.write.parquet(s"$checks/pack_scratch")
    bands.write.parquet(s"$checks/bands_served")
    PackStore.serve(spark, s"$dir/pack", Params.Pack)
      .write.parquet(s"$checks/pack_served")
  }

  override def checkFacts: Map[String, Any] = Params.facts ++ Map(
    "oracle_docs" -> CorpusBuildWorkload.OracleDocs.toDouble,
    "serve_rows" -> serveRows.toDouble)
}

object CorpusBuildWorkload {
  /** Pages (by id) the pipe32 oracle check covers. */
  val OracleDocs = 300
}
