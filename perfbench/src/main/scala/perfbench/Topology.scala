package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daemon configuration every run uses: the q171 composite's
  * topology as a TOML file — `app.t2` ops fan out to `app.supplier`
  * through `[[relate]]` (join only), `app.t1` and `app.supplier` land in
  * mapped indices, `app.t0` keeps a time machine, and database and
  * collection drops propagate (their default). */
object Topology {

  val Toml: String =
    """time-machine-namespaces = ["app.t0"]
      |dropped-databases = true
      |dropped-collections = true
      |
      |[[mapping]]
      |namespace = "app.t1"
      |index = "custom_t1"
      |
      |[[mapping]]
      |namespace = "app.supplier"
      |index = "suppliers"
      |
      |[[relate]]
      |namespace = "app.t2"
      |with-namespace = "app.supplier"
      |src-field = "document.k"
      |match-field = "s_suppkey"
      |match-field-type = "long"
      |
      |[curation]
      |num-buckets = 1
      |""".stripMargin

  /** The `[[mapping]]` entries of [[Toml]]. */
  private val Mapped = Map("app.t1" -> "custom_t1", "app.supplier" -> "suppliers")

  /** Source namespace → sink index: mapped, else the lowercased namespace. */
  def indexOf(namespace: String): String =
    Mapped.getOrElse(namespace, namespace.toLowerCase)

  /** Sink index → source namespace, the inverse of [[indexOf]]. */
  def indexNamespace(index: String): String =
    Mapped.collectFirst { case (ns, `index`) => ns }.getOrElse(index)

  /** The `app.supplier` collection as the relate join reads it. */
  def suppliers(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    Gen.suppliers(seed).toDF("s_suppkey", "s_name", "s_nationkey")
      .select(col("s_suppkey").cast("string").as("id"),
        to_json(struct(col("s_name"), col("s_nationkey"))).as("document"),
        col("s_suppkey"))
  }
}
