package graft

import org.apache.spark.sql.SparkSession

/** One place for local SparkSession config shared by Verify, the dev mains
  * and the test suites. Mirrors what a cluster deployment would set via
  * spark-submit: AQE on, UTC session time, batch shuffle parallelism sized
  * to the machine, stream state sized once ([[StatePartitions]]). */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized so that each
    * generated class compiles once per JVM.
    *
    * At 100 entries one warm `training_pipeline` pass at sf0.1 (text + coarse
    * + PQ rebuild, q31, q66, mm06, st04) compiled 174 classes, about 3.2 s of
    * Janino: each pass evicted the classes of the pass before it, so every
    * warm rebuild recompiled all of its code. Both benchmark workloads
    * together hold about 265 classes, but one `graft.Verify` run over the
    * whole registry at sf0.01 compiles 3087 classes. A second pass
    * over the registry in the same JVM recompiled 2526 classes at 2000
    * entries and 87 at 8192, so the cache is sized to hold the registry.
    *
    * The cache is built when the JVM first generates code, from the conf of
    * the session active then, so the size must be set before that: every
    * session is built here. Memory, measured after GC against 100 entries
    * (4 cores): after set-up, one `training_pipeline` pass and the five
    * `es_serving` keys at sf0.1 (about 265 classes held), +3 MB heap and
    * metaspace unchanged; after one pass over the whole registry at sf0.01
    * (about 3100 classes held), +95 MB heap and +23 MB metaspace. */
  val CodegenCacheEntries = 4096

  /** `spark.sql.shuffle.partitions`: the state-store count of every stateful
    * stream, set once for the session. A stateful operator keeps one state
    * store per shuffle partition and commits each of them every
    * micro-batch, so the count is a fixed cost per batch. It is sized to the
    * small state the `st*` entries keep (st04: 722 rows; st14: 8 rules)
    * rather than to the machine: st14 summed about 17 s of commit time a
    * batch over 32 stores.
    *
    * The count is the smallest at which no `st*` key is slower than at 8,
    * from timing all 21 keys warm at 1, 2 and 8 stores (sf0.1, 4 cores,
    * median of 3, two alternating rounds). At 2 the keys sum 17.7–20.6 s
    * against 24.5–27.7 s at 8 (st03b 3.6 → 1.9 s, st06 2.9 → 1.7 s, st04
    * 0.87 → 0.59 s). At 1, st02 is the one key that slows: 1.01–1.22 s
    * against 0.81–0.86 s at 2 and 0.88–1.15 s at 8. Its
    * `flatMapGroupsWithState` sorts and folds all 100,000 events of its one
    * batch, per user, work that grows with the input rather than with its
    * 1,500 state rows, and one store runs it as one task on one core.
    *
    * Batch plans do not read it: with AQE and partition coalescing on,
    * `SQLConf.numShufflePartitions` returns
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum`, which the
    * builder sets to the core count. A stream copies the raw value into its
    * checkpointed state partition count when it first starts, and runs its
    * stateful plans with AQE off, so all of a stateful stream's exchanges
    * take it. The results do not depend on it (detsum). */
  val StatePartitions = 2

  def builder(cpus: String): SparkSession.Builder =
    SparkSession
      .builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
      .config("spark.sql.shuffle.partitions", StatePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // testdata parquet carries TIMESTAMP(NANOS); read as nano-longs and
      // let graft.queries.Tables restore TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata TIMESTAMP(MICROS) columns are written isAdjustedToUTC=false;
      // read them as TimestampType (session tz is UTC, so the instant is the
      // wall-clock — DuckDB's naive read of the same file agrees) instead of
      // TIMESTAMP_NTZ, keeping unix_micros()/pushdown on the scan column
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the codegen cache is keyed by (class loader, code). With artifact
      // isolation on, the tasks of every session run under a class loader
      // of their own, and each stream run executes in a fresh clone of its
      // session, so every stream run recompiled its task-side classes
      // (st04: 12 a run). graft adds no session artifacts (jars, files), so
      // the isolation buys nothing here.
      .config("spark.sql.artifact.isolation.enabled", "false")

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
