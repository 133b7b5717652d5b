package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Llm, Relational, V3Shape}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps one entry per implemented operator from SURVEY.md §2
  * (name prefixes carry the operator ids); `oracleSql` holds the
  * equivalent DuckDB SQL over the same parquet tables. Entries without
  * oracle SQL get the driver's weaker rows-only check.
  */
object SparkEntry {

  private def registry: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Relational.entries ++ V3Shape.entries ++ Llm.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature pipeline: liquidity-distribution shape
    * (grouped legs → full-outer → cumsum), SURVEY.md §7.2. */
  def entry(spark: SparkSession): DataFrame =
    queries("v3_liquidity_distribution")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q, _) => n -> q }.toMap

  /** The rows an entry point runs, in sorted name order: all of them,
    * or exactly the `only` names. A name outside the registry throws,
    * naming every unknown one, so a typo cannot pass as an empty run. */
  def select(only: Option[Set[String]])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = only.fold(Set.empty[String])(_ -- all.keySet)
    require(unknown.isEmpty,
      s"unknown registry rows: ${unknown.toSeq.sorted.mkString(", ")}")
    all.toSeq.filter { case (n, _) => only.forall(_.contains(n)) }.sortBy(_._1)
  }

  def oracleSql: Map[String, String] =
    registry.collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
