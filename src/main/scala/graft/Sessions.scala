package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Bench, Verify,
  * the dev tools, the streaming demo and the test suites all get the
  * same conf set from here, so a number measured under one of them is
  * measured under the config the others run.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, default 4: executor threads and shuffle
    * partitions of [[local]]. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A `local[cpus]` session (`local[cpus, taskAttempts]` when a task
    * may be retried) with `cpus` shuffle partitions. `getOrCreate`
    * semantics: a second call in the same JVM returns the first
    * session. */
  def local(cpus: Int = envCpus, taskAttempts: Int = 1): SparkSession = {
    val master = if (taskAttempts > 1) s"local[$cpus, $taskAttempts]" else s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // session-TZ-sensitive queries (unix_timestamp on NTZ, to_date)
      // must bucket identically on every host
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // reclaim per-iteration reliable-checkpoint files (Lineage.truncate)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // The ContextCleaner only reclaims dead broadcasts/RDDs after a
      // driver GC surfaces their weak references; its fallback periodic
      // GC defaults to 30 min — longer than a whole bench run.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // FAIR job scheduling: effective only because the two streaming
      // audits name a scheduler pool per family/machine thread
      // (StreamEquivalence); the mode conf alone is a no-op. Measured
      // with the pool naming on vs off, 2×7 interleaved runs at
      // sf0.1/32 under co-tenant CPU+I/O load: no measurable
      // difference (mins 6.9-21 s both arms, noise-dominated). Kept
      // because per-pool fair sharing is the correct shape when audits
      // share an app with other tenants, and it costs nothing.
      .config("spark.scheduler.mode", "FAIR")
      // No per-session artifact classloader: nothing here adds jars or
      // classes to a session, and with isolation on every newSession()
      // gets its own executor-side loader and so its own codegen cache
      // (Spark keys compiled classes by loader and source).
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
