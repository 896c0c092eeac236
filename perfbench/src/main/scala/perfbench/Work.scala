package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.{Ckpt, Dec, Tables}
import graft.operators.{ContextualFilter => CF, Dedup, Ordination, Relational}
import graft.sources.{Export, Ingest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One generated request: `client` -1 marks a warm-up request. */
final case class Req(client: Int, seq: Int, kind: String, check: Boolean,
    params: IndexedSeq[String]) {
  def id: String = s"$client.$seq"
}

object Req {
  /** `client \t seq \t kind \t check \t params...` per line. */
  def parse(line: String): Req = {
    val f = line.split("\t", -1)
    Req(f(0).toInt, f(1).toInt, f(2), f(3) == "1", f.drop(4).toIndexedSeq)
  }
}

/** A collected frame: column names and rows, kept for output checks. */
final case class Frame(cols: Seq[String], rows: Array[Row])

/** What one request returned: `items` is the work unit the workload
  * counts (1 per explore request, fact rows per analyze pass,
  * documents per curate pass); `resultRows` the rows handed back to
  * the client; `kept` the rows a write kept (a download's rows, a
  * curate pass's landed rows), measured after the request. */
final case class Out(items: Long, resultRows: Long, kept: Array[Row],
    frames: Map[String, Frame]) {
  /** Bytes of the kept rows as tab-separated text. */
  def keptBytes: Long =
    kept.iterator.map(_.mkString("\t").getBytes(UTF_8).length.toLong).sum
}

/** The three workloads, written against graft's public API. Every call
  * into a layer goes through `tr.span(layer)`, so the traced run
  * attributes time to the layer the call belongs to:
  * tables (Tables.*), operators (graft.operators.* returning a
  * DataFrame, including eager checkpoint work inside them), ckpt
  * (graft.Ckpt called by the benchmark), plan (executedPlan), exec
  * (the action that hands rows back) and sources (Export / Ingest). */
final class Work(spark: SparkSession, dir: String, outRoot: String,
    tr: Tracer) {

  private def load(name: String): DataFrame =
    tr.span("tables")(Tables.load(spark, dir, name))
  private def dim(name: String): DataFrame =
    tr.span("tables")(Tables.dim(spark, dir, name))

  /** Plan, then collect: the two layers a user's answer passes last. */
  private def run(df: DataFrame): Frame = {
    tr.span("plan")(df.queryExecution.executedPlan)
    Frame(df.columns.toSeq, tr.span("exec")(df.collect()))
  }

  def apply(r: Req, workload: String): Out = workload match {
    case "explore" => explore(r)
    case "analyze" => analyze(r)
    case "curate" => curate(r)
  }

  // ---------------------------------------------------------------- explore

  private def explore(r: Req): Out = {
    val p = r.params
    val f = r.kind match {
      case "filter" => run(filterRollup(p(0), p(1).toDouble, p(2).toDouble,
        p(3).split(",").toSeq, p(4).toDouble, p(5)))
      case "browse" => run(tr.span("operators")(
        Relational.q32TaxonomyBrowse(spark, dir, p(0).toInt, p(1))))
      case "krona" => run(tr.span("operators")(
        Relational.q5TaxonomyRollup(spark, dir)))
      case "rollup" => run(tr.span("operators")(
        Relational.q27DeepRollup(spark, dir)))
      case "contingency" => run(tr.span("operators")(
        Relational.q6Contingency(spark, dir)))
      case "histogram" => run(tr.span("operators")(
        Relational.q35Histogram(spark, dir, p(0).toDouble)))
      case "keyset" => run(tr.span("operators")(
        Relational.q28Keyset(spark, dir, p(0), p(1).toLong, p(2).toInt)))
      case "diversity" => run(tr.span("operators")(
        Relational.q13Diversity(spark, dir)))
      case "biom" => run(tr.span("sources")(
        Export.biomMatrix(spark, dir, s"$outRoot/${r.id}")))
      case "csv" => run(tr.span("sources")(
        Export.contextualCsv(spark, dir, s"$outRoot/${r.id}")))
    }
    val kept = if (r.kind == "biom" || r.kind == "csv") f.rows else Array.empty[Row]
    Out(1L, f.rows.length.toLong, kept, Map("result" -> f))
  }

  /** A contextual filter tree over the sample context (orders ⋈
    * customer), joined to the fact and rolled up by taxon type. */
  private def filterRollup(status: String, lo: Double, hi: Double,
      prios: Seq[String], top: Double, seg: String): DataFrame = {
    val tree = CF.Or(Seq(
      CF.And(Seq(CF.Cmp("o_orderstatus", "=", status),
        CF.Between("o_totalprice", lo, hi),
        CF.In("o_orderpriority", prios))),
      CF.And(Seq(CF.Cmp("o_totalprice", ">", top),
        CF.Not(CF.Cmp("c_mktsegment", "=", seg))))))
    val o = load("orders")
    val c = dim("customer")
    val l = load("lineitem")
    val pt = dim("part")
    tr.span("operators") {
      CF(o.join(c, col("o_custkey") === col("c_custkey")), tree)
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_obs"),
          Dec.dsum(col("l_quantity")).as("abundance"))
        .orderBy("p_type")
    }
  }

  // ---------------------------------------------------------------- analyze

  /** One comparison pass: a contextual sample subset (customers of the
    * chosen nations and segment, `size` of them by a seeded hash
    * order), its sample × taxon abundance matrix, then Bray–Curtis,
    * PCoA, PERMANOVA and betadisper over the subset. Samples are
    * customers, taxa (brand, type) pairs, groups nations. */
  private def analyze(r: Req): Out = {
    val nations = r.params(0).split(",").map(_.toInt).toSeq
    val seg = r.params(1)
    val size = r.params(2).toInt
    val salt = r.params(3).toLong
    val c = load("customer")
    val n = dim("nation")
    val l = load("lineitem")
    val o = load("orders")
    val p = dim("part")
    val subset = tr.span("operators")(CF(c, CF.And(Seq(
      CF.In("c_nationkey", nations), CF.Cmp("c_mktsegment", "=", seg)))))
    val samples = tr.span("ckpt")(Ckpt(subset
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name").as("grp"),
        pmod(col("c_custkey") * 2654435761L + salt, lit(2147483647L)).as("h"))
      .orderBy("h", "c_custkey").limit(size)))
    val ab = tr.span("ckpt")(Ckpt(l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(samples), col("o_custkey") === col("c_custkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("c_name").as("n_name"),
        concat_ws("|", col("p_brand"), col("p_type")).as("p_type"))
      .agg(sum(Dec.dec(col("l_quantity"))).as("qty"),
        count(lit(1)).as("n_obs"))))
    val groups = samples.select(col("c_name").as("n_name"),
      col("c_custkey").as("k"), col("grp").as("r_name"))
    val bc = tr.span("operators")(Relational.brayCurtisFromAbundance(ab))
    val bcc = tr.span("ckpt")(Ckpt(bc))
    val axes = tr.span("operators")(Ordination.pcoa(bcc))
    val perm = tr.span("operators")(
      Relational.permanovaFromDistances(bcc, groups))
    val disp = tr.span("operators")(
      Relational.betadisperFromDistances(bcc, groups))
    val frames = Map(
      "bray_curtis" -> run(bcc), "pcoa" -> run(axes),
      "permanova" -> run(perm), "betadisper" -> run(disp))
    val factRows = run(ab.agg(sum(col("n_obs")))).rows.head.getLong(0)
    Out(factRows, frames.values.map(_.rows.length.toLong).sum, Array.empty, frames)
  }

  // ----------------------------------------------------------------- curate

  private val docSchema = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")

  /** One daily-ingest pass: read the landed CSV batch, MinHash-dedup
    * it, keep the best document per duplicate cluster, land the kept
    * rows as parquet in a fresh directory and read them back. */
  private def curate(r: Req): Out = {
    val (good, _) = tr.span("sources")(
      Ingest.readCsv(spark, r.params(0), docSchema))
    try {
      val docs = tr.span("tables")(Tables.parallel(good))
      val decision = tr.span("operators")(Dedup.dedupPipeline(docs, 0.5))
      val best = tr.span("operators")(Dedup.keepBest(decision, docs))
      val bestF = run(best.select("doc_id", "cluster_id", "keep_best"))
      val path = s"$outRoot/${r.id}"
      tr.span("sources")(Ingest.land(
        docs.join(best.filter(col("keep_best")).select("doc_id"), "doc_id"),
        path, "lang"))
      val back = run(tr.span("tables")(spark.read.parquet(path))
        .select("doc_id", "text", "source", "n_chars", "lang"))
      Out(bestF.rows.length.toLong, back.rows.length.toLong, back.rows,
        Map("keep_best" -> bestF,
          "landed" -> Frame(Seq("doc_id"), back.rows.map(x => Row(x.get(0))))))
    } finally spark.catalog.clearCache() // readCsv's persisted batch
  }
}
