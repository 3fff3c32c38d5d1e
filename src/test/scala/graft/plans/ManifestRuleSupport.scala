package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spec helpers for the manifest rules: a session with one rule switched
  * on (the rules are opt-in per session, so every parity check compares
  * such a session with a plain one), and the files a query's parquet
  * scans actually read.
  */
object ManifestRuleSupport {

  val Prune = "spark.graft.manifest.prune"
  val MetaCount = "spark.graft.manifest.metacount"

  /** A new session of `spark` with graft registered and `conf` on. */
  def sessionWith(spark: SparkSession, conf: String): SparkSession = {
    val s = spark.newSession()
    Graft.ensureRegistered(s)
    s.conf.set(conf, "true")
    s
  }

  /** Files actually fed to the (possibly AQE-wrapped) parquet scans. */
  def scanFiles(df: DataFrame, allowEmpty: Boolean = false): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => Nil
      }
      p +: (extra ++ p.children).flatMap(walk)
    }
    val n = walk(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    // a metadata-answered aggregate legitimately has NO file scan at all
    if (!allowEmpty) assert(n.nonEmpty, "no parquet scan in the plan")
    n.sum
  }
}
