package graft.catalog

import graft.operators.{Decontaminate, Dedup, Importance, IvfIndex, TextAnalysis}
import graft.translate.GraftAnalysisException
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One model kind of `CREATE MODEL … KIND '<kind>'`: `what` its artifact
  * is, and how to `load` one from a path (throwing when the path holds
  * none). `CREATE MODEL` validates through it, `SHOW MODELS` hashes its
  * [[modelParts]], and every model-serving table function loads through
  * it. The ANN kinds carry the persisted index `layout` they name. */
final case class ModelKind[A](kind: String, what: String,
    load: (SparkSession, String) => A, layout: Option[IvfIndex.Layout] = None) {

  /** The files hashed at registration: an index layout's model
    * directories (not its data), else the artifact itself. */
  def modelParts(path: String): Seq[String] =
    layout.fold(Seq(path))(_.modelDirs.map(d => s"$path/$d"))

  /** The loaded artifact of catalog model `name`, if one is registered.
    * A model of another kind `fail`s, and so does one registered
    * degraded — its artifact was missing when the catalog sidecar
    * replayed — which would otherwise surface as whatever filesystem
    * error the stale path produces downstream. */
  def registered(spark: SparkSession, catalog: Catalog, name: String)(
      fail: String => Nothing): Option[A] =
    catalog.model(name).map { m =>
      if (m.kind != kind) fail(s"model '$name' has kind '${m.kind}', expected '$kind'")
      if (m.hash == ModelKind.Degraded)
        fail(s"model '$name' is degraded (its artifact was unavailable when the " +
          "catalog sidecar replayed) — DROP MODEL and re-CREATE it to re-validate the artifact")
      try load(spark, m.path)
      catch { case e: Exception => fail(s"model '$name' at '${m.path}' is not $what (${e.getMessage})") }
    }
}

object ModelKind {

  /** The content hash of a model registered while its artifact was
    * missing (sidecar replay); `SHOW MODELS` shows it. */
  val Degraded = "missing"

  val Bpe: ModelKind[Seq[(String, String)]] =
    ModelKind("bpe", "a BPE merge-list artifact", TextAnalysis.loadBpeMerges)
  val Unigram: ModelKind[Seq[(String, Double)]] =
    ModelKind("unigram", "a unigram vocab artifact", TextAnalysis.loadUnigramVocab)
  val Linear: ModelKind[Array[Long]] =
    ModelKind("linear", "a (bucket, weight) linear classifier artifact", TextAnalysis.loadLinearWeights)
  val Dsir: ModelKind[(Array[(Long, Double)], Int)] =
    ModelKind("dsir", "a DSIR log-ratio artifact", Importance.loadDsirModel)
  val Spans: ModelKind[DataFrame] =
    ModelKind("spans", "a (key BIGINT) hot-span artifact", Dedup.loadHotSpans)
  val Paragraphs: ModelKind[DataFrame] =
    ModelKind("paragraphs", "a (key STRING) hot-paragraph artifact", Dedup.loadHotParagraphs)
  val Shingles: ModelKind[DataFrame] =
    ModelKind("shingles", "an (h BIGINT) benchmark shingle artifact", Decontaminate.loadBenchShingles)

  /** An ANN kind loads to its index directory, once the layout is there. */
  private val annKinds: Seq[ModelKind[String]] = IvfIndex.layouts.map { l =>
    ModelKind[String](l.kind, s"a ${l.label} index layout", { (spark, dir) =>
      if (!IvfIndex.layoutAt(spark, dir).contains(l))
        throw new IllegalArgumentException(s"no ${l.label} index layout at '$dir' (${l.expected})")
      dir
    }, Some(l))
  }

  /** The ANN kind named `kind` (`ivf`, `ivfsq8`, `ivfpq` or `pq`). */
  def ann(kind: String): ModelKind[String] = annKinds.find(_.kind == kind).get

  val all: Seq[ModelKind[_]] =
    annKinds ++ Seq(Bpe, Unigram, Linear, Dsir, Spans, Paragraphs, Shingles)

  /** `CREATE MODEL name KIND kind AT path`'s eager check: an unknown kind,
    * or a path without an artifact of the kind, is an error now rather
    * than at first use. Returns the kind. */
  def validate(spark: SparkSession, name: String, kind: String, path: String): ModelKind[_] = {
    def fail(msg: String): Nothing = throw new GraftAnalysisException(s"create model $name: $msg")
    val k = all.find(_.kind == kind).getOrElse(
      fail(s"unknown kind '$kind' (valid: ${all.map(_.kind).mkString(", ")})"))
    try k.load(spark, path)
    catch { case e: Exception => fail(k.layout.fold(s"'$path' is not ${k.what} (${e.getMessage})")(
      l => s"no ${l.label} layout at '$path' (${l.expected})")) }
    k
  }
}
