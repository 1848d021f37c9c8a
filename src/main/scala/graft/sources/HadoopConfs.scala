package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** The Hadoop configuration every `.tsd` read and write resolves its
  * file system with.
  *
  * On a session it is `newHadoopConf()`, so session-level SQL overrides
  * are included consistently on both the read and write paths. Task
  * closures carry it as [[props]]: a bare `new Configuration()` on an
  * executor drops every `spark.hadoop.*` setting (s3a credentials,
  * default FS, endpoints). A process with no session, an `EtsdCmd` verb
  * (a cold point `query`, `examine`, `dump`), builds it with [[standalone]]. */
object HadoopConfs {
  private val SparkHadoop = "spark.hadoop."

  /** Hadoop's default resources (`core-default.xml`, `core-site.xml`),
    * parsed once per JVM: a parse costs about 10 ms, a copy of the parsed
    * configuration a small fraction of that. */
  private lazy val defaults = new Configuration()

  def props(spark: SparkSession): Seq[(String, String)] = {
    val c = spark.sessionState.newHadoopConf()
    val it = c.iterator()
    val b = Seq.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
    b.result()
  }

  def build(props: Seq[(String, String)]): Configuration = {
    val conf = new Configuration(false)
    props.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Hadoop's defaults plus every `spark.hadoop.<key>` entry of
    * `sysProps` (the JVM's `-D` properties) as `<key>`: what a session
    * started in this JVM would copy into its Hadoop configuration, so a
    * store on a non-default file system resolves the same with or
    * without one. */
  def standalone(sysProps: scala.collection.Map[String, String] = sys.props): Configuration = {
    val conf = new Configuration(defaults)
    sysProps.foreach { case (k, v) =>
      if (k.startsWith(SparkHadoop)) conf.set(k.stripPrefix(SparkHadoop), v)
    }
    conf
  }
}
