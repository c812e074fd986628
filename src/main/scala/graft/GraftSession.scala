package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for graft workloads — one place for
  * the settings every entry point (Verify, Bench, user apps) needs:
  * AQE (coalesce + skew-join), UTC, nanos-as-long for TIMESTAMP(NANOS)
  * parquet, shuffle partitions sized to cores (not 200), graft's SQL
  * functions registered, and graft's optimizer rules active (the
  * levenshtein length guard and the IVF ANN index-scan rewrite) — so
  * Verify and Bench exercise the engine exactly as a
  * `spark.sql.extensions=graft.GraftExtensions` user would get it. */
object GraftSession {

  /** Local cores for a run: `SPARK_GRAFT_CPUS`, else every core the host
    * gives this JVM. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions().apply)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Generated-class cache sized for a MANY-QUERY application: the
      // default 100-entry LRU thrashes once an app runs more than a few
      // dozen distinct plans, and every miss re-runs Janino ON A TASK
      // THREAD — observed here as whole queries burning 10-50× CPU in
      // UnitCompiler/ClassNotFoundException storms, moving randomly
      // between queries run-to-run (the recurring "sub-second noise
      // class" of earlier rounds). ~50 KB per compiled unit ⇒ worst
      // case ~250 MB at this cap, safe inside the default driver heap;
      // a production pipeline with hundreds of distinct stages needs
      // the same headroom.
      .config("spark.sql.codegen.cache.maxEntries", "5000")

  /** Build + register the SQL function surface. (Registration is also
    * handled by the extensions, but getOrCreate may return an EXISTING
    * session built without them — e.g. the shared test JVM — and the
    * explicit register keeps the function surface present either way.
    * The OPTIMIZER RULES and PLANNER STRATEGIES of
    * [[GraftExtensions.optimizerRules]] / [[GraftExtensions.plannerStrategies]]
    * get the same treatment: a pre-existing session silently lacking them
    * would make Verify/Bench exercise exact scans instead of the index
    * plans (or fail to plan the rewritten subtrees), so any missing one
    * is re-attached via `experimental.extraOptimizations` /
    * `experimental.extraStrategies`.) */
  def create(master: String, shufflePartitions: Int): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftFunctions.register(spark)
    val present = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    val missing = GraftExtensions.optimizerRules.filterNot(r => present.exists(_ eq r))
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
    val strategies = spark.sessionState.planner.strategies
    val absent = GraftExtensions.plannerStrategies.filterNot(st => strategies.exists(_ eq st))
    if (absent.nonEmpty)
      spark.experimental.extraStrategies = spark.experimental.extraStrategies ++ absent
    spark
  }
}
