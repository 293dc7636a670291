package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one resolver from a table path to its Hadoop FileSystem: by the
  * path's own scheme (HDFS, S3A, local), against the session's Hadoop
  * conf. `sessionState.newHadoopConf()` layers the session's own
  * settings over the context's `hadoopConfiguration`, so a setting made
  * with `spark.conf.set` (credentials, a filesystem implementation)
  * reaches every caller. */
object HadoopFs {
  def apply(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
}
