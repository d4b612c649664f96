package graft.sources.reftable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The Hadoop configuration graft's storage code runs with. This object is
  * the one place that builds one; every listing, commit step, stats read
  * and scan task gets its conf from here.
  *
  * Driver side, [[apply]] copies the session's Hadoop conf
  * (`sessionState.newHadoopConf()`): the classpath XML resources Spark
  * parsed once at start-up, the `spark.hadoop.*` keys, and the session's
  * own settings (`fs.<scheme>.impl`, object-store credentials) — the conf
  * Spark's own file sources read with. A copy clones two hash tables; a
  * bare `new Configuration()` re-parses every XML resource on first use
  * (over a thousand properties with hadoop-client 3.4) and sees none of
  * the session's keys.
  *
  * Executor side, a scan ships one [[broadcast]] per batch scan or per
  * stream, and each task takes a private [[copyOf]] it may mutate (the
  * readers set parquet keys on theirs). In local mode the broadcast value
  * IS the driver's object, so the copy is required, not defensive.
  */
private[graft] object HadoopConf {

  /** A fresh conf the caller owns: a copy of the active (else default)
    * session's Hadoop conf, or of a once-parsed JVM default where no
    * session is usable.
    */
  def apply(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => s.sessionState.newHadoopConf()
      case None => new Configuration(jvmDefault)
    }

  // parsed on first use only: a process with a usable session never builds it
  private lazy val jvmDefault: Configuration = {
    val c = new Configuration()
    c.size() // forces the resource parse here, once
    c
  }

  /** One copy of the session conf for the tasks of a scan. */
  def broadcast(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(apply()))

  /** A stream's task conf: broadcast at its first batch and reused by
    * every later one. [[release]] at stop hands it to Spark's
    * ContextCleaner instead of destroying it: a stopped query's
    * broadcast-exchange future may still be serializing a plan that holds
    * it, and serializing a destroyed broadcast fails with
    * INTERNAL_ERROR_BROADCAST.
    */
  final class PerStream {
    private var b: Option[Broadcast[SerializableConfiguration]] = None

    def get(): Broadcast[SerializableConfiguration] = synchronized {
      if (b.isEmpty) b = Some(broadcast(SparkSession.active))
      b.get
    }

    def release(): Unit = synchronized { b = None }
  }

  /** A task's private copy of a broadcast conf, as a JobConf: Hadoop's
    * task contexts wrap a JobConf as it is and copy any other conf again.
    */
  def copyOf(b: Broadcast[SerializableConfiguration]): org.apache.hadoop.mapred.JobConf =
    new org.apache.hadoop.mapred.JobConf(b.value.value)

  /** Opens a parquet file with read options taken from `conf`.
    * `ParquetFileReader.open(file)` alone builds its options from a fresh
    * `Configuration`, re-parsing the XML resources on every footer read.
    */
  def openParquet(path: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromPath(path, conf), HadoopReadOptions.builder(conf, path).build())

  /** Opens a parquet file for a record-at-a-time `Group` read on `conf`.
    * `ParquetReader.builder(readSupport, path)` builds its options from a
    * fresh `Configuration` before `withConf` replaces it; a builder over a
    * `HadoopInputFile` takes the file's conf instead.
    */
  def groupReader(path: Path, conf: Configuration): ParquetReader[Group] =
    new ParquetReader.Builder[Group](HadoopInputFile.fromPath(path, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport
    }.build()
}
