package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** Java-serializable Hadoop Configuration carrier for executor code
  * (Configuration itself is Writable but not java.io.Serializable).
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {

  /** The driver's Hadoop conf (spark.hadoop.* — object-store credentials,
    * endpoints) shipped to executors as ONE broadcast per job. A bare
    * `new Configuration()` in a task would silently drop those settings;
    * capturing the carrier in a task closure instead re-serializes the whole
    * property table into every task binary, which on short jobs (a narrow
    * restore) costs more than the reads it configures.
    */
  def broadcast(spark: SparkSession): Broadcast[SerializableHadoopConf] =
    spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
}
