package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AdcScore, BandKeysExpr, BloomMightContainExpr, DotProduct, HllAgg, Log2FixedExpr, Md5Hash64Expr, Md5LanesExpr, NfcNormalizeExpr, Param, PqCodesExpr, PqFunctions, PqLutsExpr, SearchSortedExpr, SimhashAgg}

/** Cluster-wide deployment surface for the graft custom expressions.
  *
  * `--conf spark.sql.extensions=graft.GraftExtensions` attaches every
  * native function to each session's catalog at session build time —
  * the standard way a cluster operator ships a library so that pure-SQL
  * users (spark-sql, Thrift server, notebooks) can call `graft_dot`,
  * `graft_md5_hash64`, `graft_search_sorted` and `graft_simhash_agg`
  * without touching the Scala API. The per-object `register(spark)`
  * calls remain for programmatic sessions; this class is the
  * no-code-changes injection point and registers the same builders
  * (same names, same expressions — one source of truth per function).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn(graft.functions.VectorFunctions.DotName,
      exprs => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction(fn(Md5Hash64Expr.Name,
      exprs => Md5Hash64Expr(exprs.head)))
    ext.injectFunction(fn(SearchSortedExpr.Name,
      exprs => SearchSortedExpr(exprs(0), exprs(1))))
    ext.injectFunction(fn(SimhashAgg.Name,
      exprs => SimhashAgg(exprs.head).toAggregateExpression()))
    ext.injectFunction(fn(Md5LanesExpr.Name,
      exprs => Md5LanesExpr(exprs.head)))
    ext.injectFunction(fn(BandKeysExpr.Name,
      exprs => BandKeysExpr.fromExprs(exprs)))
    ext.injectFunction(fn(BloomMightContainExpr.Name,
      exprs => BloomMightContainExpr(exprs(0), exprs(1))))
    ext.injectFunction(fn(HllAgg.Name,
      exprs => HllAgg(exprs.head).toAggregateExpression()))
    ext.injectFunction(fn(NfcNormalizeExpr.Name,
      exprs => NfcNormalizeExpr(exprs.head)))
    ext.injectFunction(fn(Log2FixedExpr.Name,
      exprs => Log2FixedExpr(exprs.head)))
    ext.injectFunction(fn(AdcScore.Name,
      exprs => AdcScore(exprs(0), exprs(1))))
    ext.injectFunction(fn(PqFunctions.CodesName,
      exprs => PqCodesExpr(exprs(0), exprs(1))))
    ext.injectFunction(fn(PqFunctions.LutsName,
      exprs => PqLutsExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(fn(Param.Name, Param.fromExprs))
    // the lake's SQL maintenance + history TVFs (table_history,
    // graft_snapshot, graft_compact, graft_vacuum) and the strategy
    // that defers their side effects to execution
    graft.sources.LakeMaintenance.descriptions
      .foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ =>
      graft.sources.LakeMaintenanceStrategy)
  }
}
