package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop conf, broadcast once per stream or scan instance
  * and created at first use, for the reader factories of this package's
  * DSv2 sources. A factory that carried the conf by value made every task
  * deserialize the whole `Configuration` again; through a broadcast an
  * executor fetches it once, and a task in the driver's JVM reads the
  * driver's own copy.
  *
  * The conf is captured when first asked for: a later change to the
  * session's Hadoop conf reaches the next stream or scan, not this one.
  */
private[sources] trait BroadcastHadoopConf {
  protected lazy val hadoopConf: Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  }
}
