package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What the `Bench` and `Verify` mains and the `tools/` mains share:
  * the local session they run queries in and the child JVM a sharded run
  * starts per tranche.
  */
object Local {

  /** Core-count ceiling: past 32 local cores the sf0.1 stages are all
    * scheduling overhead. */
  val maxCpus: Int = math.min(32, Runtime.getRuntime.availableProcessors())

  /** Core count `Bench` and `Verify` run at: `SPARK_GRAFT_CPUS`, else
    * [[maxCpus]]. Sharded children inherit the env, so parent and
    * children agree. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(maxCpus)

  /** Generated-class cache size. Spark's default of 100 entries is smaller
    * than one tranche's codegen units, so the untimed warmup's compilations
    * were evicted before each query's timed run and janino ran inside the
    * clock (~17 % of a tranche's wall at sf0.1). It costs only metaspace. */
  val CodegenCacheEntries = 10000

  /** `local[cores]` session with one shuffle partition per core, UTC,
    * no UI, and the library's planner extensions installed. Timestamps
    * stored as TIMESTAMP(NANOS) read as longs (`Load.events` converts). */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark) // strategy + rewrite rule + SQL functions
    spark
  }

  /** A child JVM running `main(args)` on this JVM's classpath and flags
    * (so it runs under the same heap and JIT settings), minus debugger
    * and profiler agents, plus `extraFlags`. `env` is added to the
    * inherited environment; stdout and stderr are left for the caller. */
  def child(main: String, args: Seq[String], env: Map[String, String],
      extraFlags: Seq[String] = Nil): ProcessBuilder = {
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++
      jvmFlags ++ extraFlags ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb
  }

  /** This JVM's own flags, without `-agentlib`/`-javaagent`. */
  def jvmFlags: Seq[String] =
    java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
}
