package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Engine
import graft.operators.{HeaderMapper, Reports}
import graft.sources.{ExcelReader, Ingest}
import java.nio.file.Paths
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import Main.{Digest, Op, digest, median}

object Submissions {
  /** What the caller of one submission receives. */
  final case class Outputs(r: Engine.SubmissionResult,
      resolved: Array[Row], review: Array[Row], dashboard: Array[Row],
      errors: Array[Row], push: Seq[Array[Row]], zip: String)
}

/** The reference's own user path, warm: a member file goes through
  * `Engine.processSubmission` (nested-loop resolver, the default), and the
  * caller receives the resolved items, the review queue, the dashboard and
  * the push plan, and downloads the report zip. One operation is one file,
  * from the call to the written zip. */
final class Submissions(spark: SparkSession, o: Main.Opts, labels: JsonNode,
    tracer: Option[Tracer]) extends Workload(spark, tracer) {
  import Submissions.Outputs

  private val dir = o.input
  private val dict = spark.read.parquet(s"$dir/dict.parquet")
  private val existing = spark.read.parquet(s"$dir/existing.parquet")
  private val files: Seq[(String, Seq[Label])] = labels.get("files").asScala.toSeq
    .map(f => f.get("name").asText)
    .map(n => s"submissions/$n" -> labelList(labels.get("labels").get(n)))
  private val probe = "probe.xlsx" -> labelList(labels.get("probe"))
  private val pushErrors = spark.createDataFrame(
    java.util.Collections.emptyList[Row](),
    StructType(Seq(StructField("member_id", StringType),
      StructField("error_message", StringType))))
  private lazy val dictKeys: Set[String] =
    dict.select(lower(trim(col("title")))).collect().map(_.getString(0)).toSet
  private var probeBands = Map.empty[String, Long]
  private val totals = mutable.LinkedHashMap.empty[String, Long]
  /** Per-operation counts the traced run reports as medians. */
  private val counts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double): Unit =
    counts.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private type Label = (String, String, String) // (class, item, ext_id)
  private def labelList(n: JsonNode): Seq[Label] = n.asScala.toSeq
    .map(l => (l.get(0).asText, l.get(1).asText, l.get(2).asText))

  private def bands(rows: Array[Row]): Map[String, Long] =
    rows.groupBy(_.getAs[String]("decision")).map { case (k, v) => k -> v.length.toLong }

  def warmUp(): Unit = {
    dictKeys
    // the probe workbook through the whole operation: JIT, codegen and
    // the dictionary scan are paid here, and its bands are the
    // nested-loop side of the path-agreement check in finalChecks
    val w = submit(probe._1, probe._2)
    require(w.failures.isEmpty, s"warm-up submission failed: ${w.failures.mkString("; ")}")
    counts.clear(); totals.clear()
  }

  /** Files in order, one after the other, until `seconds` have passed. */
  def measure(seconds: Double): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (path, labs) = files(ops.size % files.size)
      ops += submit(path, labs)
    }
    ops.toSeq
  }

  /** The probe again, on the token-blocked path: the band counts must
    * equal the nested-loop path's. */
  override def finalChecks(): Seq[String] = {
    val r = span("blocked.processSubmission") {
      Engine.processSubmission(spark, s"$dir/${probe._1}", dict, blocked = true)
    }
    val b = bands(span("blocked.resolved") { r.resolved.collect() })
    if (b == probeBands) Nil
    else Seq(s"probe bands differ: nested-loop $probeBands vs token-blocked $b")
  }

  override def facts: Seq[(String, Long)] = totals.toSeq

  private def withJsonAlternatives(df: DataFrame): DataFrame =
    df.withColumn("alternatives", to_json(col("alternatives")))

  private def submit(file: String, labs: Seq[Label]): Op =
    guarded(file, labs.size.toLong) {
      val path = s"$dir/$file"
      val name = Paths.get(file).getFileName.toString
      val r = span("processSubmission") {
        Engine.processSubmission(spark, path, dict)
      }
      val resolved = span("EntityResolution.resolved") { r.resolved.collect() }
      val (pending, dash) = Engine.reviewQueue(r, name)
      val review = span("reviewQueue") { pending.collect() }
      val errorReport = Reports.errorReport(r.errors, pushErrors)
      val (dashRows, errRows) = span("Reports") {
        (dash.collect(), errorReport.collect())
      }
      val (newDims, upd, ins) = Engine.pushPlan(r, dict, existing)
      val push = span("Merge.pushPlan") {
        Seq(newDims.collect(), upd.collect(), ins.collect())
      }
      // the reference's download bundle: processed rows, errors and
      // created items, one CSV each
      val zip = Paths.get(o.out, s"reports-$name.zip").toString
      span("Ingest.zipReports") {
        Ingest.zipReports(Map(
          "items" -> withJsonAlternatives(r.resolved),
          "errors" -> errorReport,
          "new_items" -> newDims), zip)
      }
      Outputs(r, resolved, review, dashRows, errRows, push, zip)
    } { out =>
      val f = check(labs, out)
      if (file == probe._1) probeBands = bands(out.resolved)
      Seq("resolved_rows" -> out.resolved.length, "review_rows" -> out.review.length,
        "error_rows" -> out.errors.length, "new_items" -> out.push.head.length)
        .foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0L) + v }
      f ++ layerProbes(path = s"$dir/$file", out)
    }

  private def check(labs: Seq[Label], out: Outputs): Seq[String] = {
    val f = mutable.ArrayBuffer.empty[String]
    val res = out.resolved
    if (res.length != labs.size) f += s"resolved ${res.length} items, expected ${labs.size}"
    val byName = res.map(r => r.getAs[String]("item_name") ->
      (r.getAs[String]("ext_id"), r.getAs[Double]("score"), r.getAs[String]("decision"))).toMap
    labs.foreach { case (cls, item, extId) =>
      byName.get(item) match {
        case None => f += s"item '$item' missing from resolved"
        case Some((e, s, d)) =>
          if ((cls == "exact" || cls == "casefold") &&
              !(s == 100.0 && d == "resolved" && e == extId))
            f += s"$cls item '$item' resolved to ($e, $s, $d), expected ($extId, 100.0, resolved)"
          if (cls == "garbage" && d != "rejected")
            f += s"garbage item '$item' was not rejected ($e, $s, $d)"
      }
    }
    val inReview = res.count(_.getAs[String]("decision") == "review")
    if (out.review.length != inReview)
      f += s"review queue holds ${out.review.length} rows, resolved has $inReview in review"
    val totalPending = out.dashboard.headOption.map(_.getAs[Long]("total_pending"))
    if (!totalPending.contains(inReview.toLong))
      f += s"dashboard total_pending $totalPending, expected $inReview"
    val zipRows = zipLineCounts(out.zip)
    val expected = Map("items" -> res.length, "errors" -> out.errors.length,
      "new_items" -> out.push.head.length)
    if (zipRows != expected) f += s"report zip rows $zipRows, expected $expected"
    f.toSeq
  }

  /** Data rows per entry of a report zip (header line excluded). */
  private def zipLineCounts(path: String): Map[String, Int] = {
    val z = new java.util.zip.ZipFile(path)
    try z.entries().asScala.map { e =>
      val src = scala.io.Source.fromInputStream(z.getInputStream(e), "UTF-8")
      try e.getName.stripSuffix(".csv") -> (src.getLines().size - 1).max(0)
      finally src.close()
    }.toMap
    finally z.close()
  }

  /** Traced run only, after the timed operation: the layers that
    * processSubmission composes, called on their own. */
  private def layerProbes(path: String, out: Outputs): Seq[String] = {
    if (tracer.isEmpty) return Nil
    val raw = span("sources.read") {
      val df = if (path.endsWith(".xlsx")) ExcelReader.readXlsx(spark, path)
        else Ingest.readCsv(spark, path)
      df.collect()
      df
    }
    span("HeaderMapper.map") { HeaderMapper.mapHeaders(raw.columns.toIndexedSeq) }
    val items = span("ItemExplode.items") { out.r.items.collect() }
    note("items", items.length)
    val keys = out.resolved.map(r => r.getAs[String]("item_norm"))
    val hit = keys.map(k => dictKeys.contains(k.trim.toLowerCase))
    note("fuzzy_names", keys.zip(hit).filterNot(_._2).map(_._1).distinct.length)
    note("exact_hit_share", if (keys.isEmpty) 0.0 else hit.count(identity).toDouble / keys.length)
    Nil
  }

  def layerMetrics(t: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    def med(name: String, f: Span => Double): Double =
      median(t.all.filter(_.name == name).map(f))
    def task(s: Span) = t.total(s).taskNs.get / 1e9
    def cnt(k: String) = median(counts.getOrElse(k, Nil).toSeq)
    val perOp = t.all.filter(_.name == "processSubmission")
      .zip(t.all.filter(_.name == "EntityResolution.resolved"))
    val blocked = t.all.filter(_.name.startsWith("blocked."))
    Seq(
      "sources.read_s" -> spanMedian(t, "sources.read"),
      "sources.report_write_s" -> spanMedian(t, "Ingest.zipReports"),
      "HeaderMapper.map_s" -> spanMedian(t, "HeaderMapper.map"),
      "ItemExplode.explode_s" -> spanMedian(t, "ItemExplode.items"),
      "ItemExplode.items" -> cnt("items"),
      "EntityResolution.call_s" -> spanMedian(t, "processSubmission"),
      "EntityResolution.resolve_s" -> spanMedian(t, "EntityResolution.resolved"),
      "EntityResolution.task_s" -> med("EntityResolution.resolved", task),
      "EntityResolution.parallelism" ->
        med("EntityResolution.resolved", s => task(s) / s.seconds),
      "EntityResolution.tasks" ->
        med("EntityResolution.resolved", s => t.total(s).tasks.get.toDouble),
      "EntityResolution.candidate_pairs" -> median(perOp.map { case (c, r) =>
        (t.total(c).candidatePairs.get + t.total(r).candidatePairs.get).toDouble }),
      "EntityResolution.fuzzy_names" -> cnt("fuzzy_names"),
      "EntityResolution.exact_hit_share" -> cnt("exact_hit_share"),
      "EntityResolution.blocked_plan_s" -> spanMedian(t, "blocked.processSubmission"),
      "EntityResolution.blocked_resolve_s" -> spanMedian(t, "blocked.resolved"),
      "EntityResolution.blocked_candidate_pairs" ->
        blocked.map(s => t.total(s).candidatePairs.get.toDouble).sum,
      "EntityResolution.blocked_shuffle_bytes" ->
        blocked.map(s => t.total(s).shuffleWriteBytes.get.toDouble).sum,
      "reviewQueue.s" -> spanMedian(t, "reviewQueue"),
      "reviewQueue.task_s" -> med("reviewQueue", task),
      "Merge.push_plan_s" -> spanMedian(t, "Merge.pushPlan"),
      "Reports.s" -> spanMedian(t, "Reports"))
  }
}

/** A batch job in a fresh JVM, cold as a scheduled job runs: one
  * `Engine.processCorpus` pass in CorpusTimer's configuration over the 10x
  * replica `ScaleStudy.synthesize` builds from the generated base corpus,
  * then the query suite, each query once in name order. Each step is
  * timed and checked on its own; the batch is one operation. */
final class Batch(spark: SparkSession, o: Main.Opts, manifest: JsonNode,
    tracer: Option[Tracer]) extends Workload(spark, tracer) {
  import Batch._

  private val tables = s"${o.input}/tables"
  private val synth = s"${o.input}/synth"
  private lazy val docs = spark.read.parquet(s"$synth/documents.parquet")
    .select("doc_id", "lang", "text")
  private lazy val nDocs = docs.count()
  private val defs = graft.SparkEntry.queries
  private var ledger = Seq.empty[(String, Long)]
  private var outputs: Option[(Digest, Digest)] = None
  private val digests = mutable.LinkedHashMap.empty[String, String]
  private val countGap = mutable.ArrayBuffer.empty[Double]

  /** Set-up only: no plan is warmed, the batch runs cold. */
  def warmUp(): Unit = {
    graft.ScaleStudy.synthesize(spark, s"${o.input}/corpus", synth)
    nDocs
  }

  def measure(seconds: Double): Seq[Op] = corpusOp() +: Suite.map(queryOp)

  /** The batch is the user's operation: its latency is the whole pass. */
  override def latencies(ok: Seq[Op]): Seq[Double] = Seq(ok.map(_.seconds).sum)

  /** The traced (and recording) run also times the named queries the
    * measured suite leaves out, so every per-query metric is filled. */
  override def finalChecks(): Seq[String] =
    if (tracer.isEmpty && !o.record) Nil
    else Names.filterNot(Suite.contains).map(queryOp).flatMap(op =>
      op.failures.map(f => s"${op.name}: $f"))

  override def facts: Seq[(String, Long)] =
    Seq("corpus_docs" -> nDocs) ++ ledger.map { case (k, v) => s"ledger.$k" -> v }

  private def corpusOp(): Op = guarded("processCorpus", nDocs) {
    // CorpusTimer's configuration: a 1-in-97 eval slice for
    // decontamination, 16-token passage windows at anchor modulus 4,
    // near dedup at Jaccard 0.800, a 5M-token budget, eager boundaries
    val eval = docs.where(col("doc_id") % 97 === 0)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val r = span("processCorpus.call") {
      Engine.processCorpus(docs,
        decontamEval = Some(eval),
        removeDupWindows = Some((16, 4)),
        nearDedup = Some(800),
        budgetTokens = 5000000L,
        materializeBoundaries = true)
    }
    val l = span("processCorpus.ledger") {
      r.accounting.collect().sortBy(_.getInt(0))
        .map(x => x.getString(1) -> x.getLong(2)).toSeq
    }
    val (chunks, packed) = span("processCorpus.outputs") {
      (r.chunks.collect(), r.packed.collect())
    }
    (l, chunks, packed)
  } { case (l, chunks, packed) =>
    val f = mutable.ArrayBuffer.empty[String]
    val counts = l.toMap
    val drops = FilterStages.filter(counts.contains).map(counts)
    if (drops.zip(drops.drop(1)).exists { case (a, b) => b > a })
      f += s"ledger counts increase between stages: $l"
    if (!counts.get("chunks").contains(chunks.length.toLong) ||
        !counts.get("packed_docs").contains(packed.length.toLong))
      f += s"ledger chunks/packed ${counts.get("chunks")}/${counts.get("packed_docs")}" +
        s" but ${chunks.length}/${packed.length} materialised"
    val (dc, dp) = (digest(chunks), digest(packed))
    ledger = l
    outputs = Some((dc, dp))
    val m = manifest.path("corpus")
    if (!o.record) {
      val want = m.path("ledger").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap
      if (m.isMissingNode) f += "no corpus entry in the manifest"
      else {
        if (want != counts) f += s"ledger $l, manifest $want"
        if (m.path("chunks").asText != dc.show)
          f += s"chunks digest ${dc.show}, manifest ${m.path("chunks").asText}"
        if (m.path("packed").asText != dp.show)
          f += s"packed digest ${dp.show}, manifest ${m.path("packed").asText}"
      }
    }
    f.toSeq
  }

  private def queryOp(name: String): Op = {
    val fn = defs.getOrElse(name, sys.error(s"query $name is not in SparkEntry.queries"))
    guarded(name, 0L) {
      span(s"query.$name") { fn(spark, tables).collect() }
    } { rows =>
      val d = digest(rows).show
      digests(name) = d
      tracer.foreach { t =>
        span(s"count.$name") { fn(spark, tables).count() }
        val spans = t.all.filter(s => s.name == s"query.$name" || s.name == s"count.$name")
        countGap += spans.head.seconds - spans.last.seconds
      }
      val want = manifest.path("queries").path(name).asText
      if (o.record || want == d) Nil else Seq(s"digest $d, manifest '$want'")
    }
  }

  override def record(path: String): Unit = {
    val m = new ObjectMapper()
    val corpus = m.createObjectNode()
    val l = corpus.putObject("ledger")
    ledger.foreach { case (k, v) => l.put(k, v) }
    outputs.foreach { case (dc, dp) => corpus.put("chunks", dc.show); corpus.put("packed", dp.show) }
    val queries = m.createObjectNode()
    digests.toSeq.sortBy(_._1).foreach { case (k, v) => queries.put(k, v) }
    updateManifest(path, Seq("corpus" -> corpus, "queries" -> queries))
  }

  def layerMetrics(t: Tracer, ops: Seq[Op]): Seq[(String, Double)] = {
    val corpus = Seq("processCorpus.call", "processCorpus.ledger", "processCorpus.outputs")
      .flatMap(n => t.all.filter(_.name == n))
    def sum(f: Counters => Long): Double = corpus.map(s => f(t.total(s)).toDouble).sum
    val wall = corpus.map(_.seconds).sum
    val task = sum(_.taskNs.get) / 1e9
    val scan = sum(_.scanRows.get)
    val queries = t.all.filter(_.name.startsWith("query."))
    def moduleSeconds(m: String): Double =
      queries.filter(s => module(s.name.stripPrefix("query.")) == m).map(_.seconds).sum
    Seq(
      "processCorpus.call_s" -> spanMedian(t, "processCorpus.call"),
      "processCorpus.ledger_s" -> spanMedian(t, "processCorpus.ledger"),
      "processCorpus.outputs_s" -> spanMedian(t, "processCorpus.outputs"),
      "processCorpus.task_s" -> task,
      "processCorpus.parallelism" -> (if (wall > 0) task / wall else 0.0),
      "processCorpus.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.get),
      "processCorpus.spill_bytes" -> sum(_.spillBytes.get),
      "processCorpus.scan_rows" -> scan,
      "processCorpus.scans" -> (if (nDocs > 0) scan / nDocs else 0.0)) ++
      ledger.map { case (stage, n) => s"processCorpus.rows.$stage" -> n.toDouble } ++
      Seq("RelationalQueries", "TextQueries", "VectorQueries", "SparkEntry")
        .map(m => s"$m.s" -> moduleSeconds(m)) ++
      Seq("queries.count_gap_s" -> countGap.sum) ++
      Named.map { q =>
        s"$q.s" -> queries.filter(_.name.startsWith(s"query.${q}_")).map(_.seconds).sum
      }
  }
}

object Batch {
  /** The ledger stages that only ever drop documents. */
  val FilterStages: Seq[String] = Seq("input", "cleaned", "non_empty",
    "exact_deduped", "near_deduped", "passage_cleaned", "decontaminated",
    "budget_selected")

  /** The queries ROADMAP names as optimisation targets. */
  val Named: Seq[String] = Seq("q32", "q40", "q41", "q59", "q65", "q66", "q73",
    "q90", "q94", "q95", "q96", "q109", "q117", "q124", "q140", "q152",
    "q165", "q192", "q194", "q195")

  private def fullName(q: String): String =
    graft.SparkEntry.queries.keySet.find(_.startsWith(q + "_"))
      .getOrElse(sys.error(s"no query named $q"))

  /** Every named query plus a plain relational and a vector query, so
    * each defining module has a member: the per-layer set. */
  val Names: Seq[String] =
    (Named.map(fullName) ++ Seq("q01_pricing_summary", "q37_knn_bruteforce")).sorted

  /** The measured suite: one query of each defining module and the
    * text kernels ROADMAP item 5 will fuse, sized to the run budget. */
  val Suite: Seq[String] = Seq("q01", "q37", "q41", "q65", "q90", "q95")
    .map(fullName).sorted

  def module(name: String): String =
    if (graft.queries.RelationalQueries.defs.contains(name)) "RelationalQueries"
    else if (graft.queries.TextQueries.defs.contains(name)) "TextQueries"
    else if (graft.queries.VectorQueries.defs.contains(name)) "VectorQueries"
    else "SparkEntry"
}
