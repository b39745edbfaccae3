package graft.util

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. Bench, Verify, RunOne,
  * PlanDump, Plans and the test session all run under these settings, so
  * the plan that is verified, tested or dumped is the plan that is benched.
  */
object Session {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Size file splits to the BENCH scale, not the 128 MB cluster
    * default: the test tables arrive as 1-2 splits under the default, so
    * every narrow pre-shuffle segment (tokenize, gram build, signature
    * kernels) serializes onto one core — the sf1 rehearsal measured a
    * 760 s single-task shuffle-map stage that 32 splits turn into ~25 s.
    * At 100 TB the same knob is set by the data (thousands of row
    * groups); locally it must be set by hand, exactly as the brief's
    * spill-aware sizing rule says.
    */
  private val MaxPartitionBytes = "4m"

  /** A local session on `cpus` cores with `graft.GraftExtensions`
    * installed (SQL-text functions and the `TopKPerKey` planner
    * strategy); `spark.newSession()` inherits the extensions.
    */
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", MaxPartitionBytes)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce partitions when materializing CACHED plans too
      // (default false pins cached shuffles at the static partition count
      // — tiny cached iterables like the dedup-cluster graph would burn
      // hundreds of empty tasks per iteration otherwise)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); must be set before the
      // FIRST read (warmup included) or the vectorized reader rejects it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // q35's warehouse tables land here, not in the repo working dir.
      .config("spark.sql.warehouse.dir", TmpDirs.perProcess("graft_warehouse"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
