package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What the `Bench` and `Verify` mains and the `tools/` mains share:
  * the local session they run queries in, and the child JVMs a sharded
  * run starts, one per tranche of queries.
  *
  * The tranche protocol: a child runs `main` with the parent's arguments
  * plus one more, its comma-separated query subset, and carries its
  * tranche index in [[TrancheVar]]. Children run one at a time; a dead
  * child loses only its own tranche, and each main decides how that
  * tranche's queries surface.
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
    * stored as TIMESTAMP(NANOS) read as longs (`Load.events` converts).
    * Managed tables live in [[ScratchDirs.warehouse]]. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.warehouse.dir", ScratchDirs.warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark) // strategy + rewrite rule + SQL functions
    spark
  }

  // --------------------------------------------------------------- tranches

  /** The environment variable that marks a tranche child; its value is
    * the tranche index. */
  private val TrancheVar = "SPARK_GRAFT_TRANCHE"

  /** This JVM's tranche index when it is a tranche child. */
  def trancheIndex: Option[Int] = sys.env.get(TrancheVar).map(_.toInt)

  /** Queries per tranche child: `SPARK_GRAFT_TRANCHE_SIZE`, default 50;
    * 0 runs every query in one JVM. */
  def trancheSize: Int = sys.env.getOrElse("SPARK_GRAFT_TRANCHE_SIZE", "50").toInt

  /** Run `names` in tranche children rather than in this JVM: this JVM is
    * no child itself and `names` overflow one tranche. */
  def sharded(names: Seq[String]): Boolean =
    trancheIndex.isEmpty && trancheSize > 0 && names.size > trancheSize

  /** A trailing tranche smaller than this joins the one before it: it
    * would pay a whole child-JVM start and warmup for sub-second work. */
  val MinTranche = 5

  /** `names` in tranches of `size`, the last folded into the one before
    * when it is smaller than [[MinTranche]]. */
  def tranches(names: Seq[String], size: Int): Seq[Seq[String]] = {
    val grouped = names.grouped(size).toSeq
    if (grouped.size >= 2 && grouped.last.size < MinTranche)
      grouped.dropRight(2) :+ (grouped(grouped.size - 2) ++ grouped.last)
    else grouped
  }

  /** One finished tranche child: tranche `i` of `count`, its queries, its
    * wall seconds, exit code and peak resident set in MB (-1 unknown). */
  final case class Tranche(i: Int, count: Int, names: Seq[String],
      wall: Double, exit: Int, peakRssMb: Long)

  /** Runs `names` as [[tranches]] of `size`, one child JVM at a time, each
    * running `main` with `args` plus its subset (see the object doc), this
    * JVM's flags plus `extraFlags`, and `env(i)` added to its environment.
    * Hands each finished tranche to `done` before the next one starts and
    * returns them all. A child that dies is reported by its exit code; the
    * next tranche still runs.
    */
  def runTranches(main: String, args: Seq[String], names: Seq[String],
      size: Int, extraFlags: Seq[String] = Nil,
      env: Int => Map[String, String] = _ => Map.empty)(
      done: Tranche => Unit): Seq[Tranche] = {
    val tag = "[" + main.split('.').last.toLowerCase + "]"
    val groups = tranches(names, size)
    groups.zipWithIndex.map { case (qs, i) =>
      System.err.println(s"$tag tranche $i/${groups.size}: " +
        s"${qs.size} queries (${qs.head}..${qs.last})")
      val pb = child(main, args :+ qs.mkString(","),
        env(i) + (TrancheVar -> i.toString), extraFlags)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val rssBefore = rssMb(ProcessHandle.current.pid)
      val t0 = System.nanoTime()
      val proc = pb.start()
      // child stdout goes to OUR stderr: the parent's own records must be
      // the only lines on its stdout (the driver tail-parses Bench's)
      val pump = daemon(proc.getInputStream.transferTo(System.err))
      // canary: sample the child's RSS once a second so a SIGKILLed run
      // records how big the child actually got before it died
      val peak = new AtomicLong(-1)
      val sampler = daemon {
        try while (proc.isAlive) {
          peak.accumulateAndGet(rssMb(proc.pid), (a, b) => math.max(a, b))
          Thread.sleep(1000)
        } catch { case _: InterruptedException => () }
      }
      val exit = proc.waitFor()
      pump.join(2000); sampler.interrupt(); sampler.join(2000)
      val t = Tranche(i, groups.size, qs, (System.nanoTime() - t0) / 1e9,
        exit, peak.get)
      System.err.println(f"$tag tranche $i done: exit=$exit wall=${t.wall}%.3fs " +
        s"parent_rss_mb=$rssBefore->${rssMb(ProcessHandle.current.pid)} " +
        s"child_peak_rss_mb=${t.peakRssMb}")
      done(t)
      t
    }
  }

  private def daemon(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.setDaemon(true); t.start(); t
  }

  /** A process's resident set in MB from /proc (Linux only; -1 if
    * unreadable), so a dead run says what died. */
  private def rssMb(pid: Long): Long =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"/proc/$pid/status"))
      .asScala.collectFirst {
        case l if l.startsWith("VmRSS:") => l.split("\\s+")(1).toLong / 1024
      }.getOrElse(-1L)
    catch { case NonFatal(_) => -1L }

  /** A child JVM running `main(args)` on this JVM's classpath and flags
    * (so it runs under the same heap and JIT settings), minus debugger
    * and profiler agents, plus `extraFlags`. `env` is added to the
    * inherited environment. */
  private def child(main: String, args: Seq[String], env: Map[String, String],
      extraFlags: Seq[String]): ProcessBuilder = {
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
