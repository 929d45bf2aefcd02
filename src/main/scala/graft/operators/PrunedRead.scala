package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Probe-time read of a few partitions of partitioned index dirs —
  * shared by both persisted-index lifecycles ([[TextIndex]]'s `bucket=`
  * parts, [[AnnIndex]]'s `cell=` generations).
  *
  * A path read of a whole partitioned dir pays its planning in Spark
  * jobs before a row is pruned: above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
  * partition subdirs, partition discovery lists them with a distributed
  * job, and a read without `.schema(...)` runs a footer-inference job.
  * Here each dir is listed ONCE on the driver (one Hadoop `listStatus`,
  * no job), only the wanted `key=value` leaf dirs that exist are read
  * (`basePath` keeps `key` as the partition column, typed by the pinned
  * schema when one is given), and the `key IN (…)` filter stays, so the
  * scans still show it as PartitionFilters. Probe plan cost then tracks
  * the query's partitions, not the index's partition count.
  *
  * A dir holding none of the wanted partitions is skipped; when no dir
  * holds any, the result is an empty local frame with the pinned schema
  * (which the optimizer folds out of unions and joins). Without a
  * pinned schema there is no type to give that frame, so the first dir
  * is read whole and filtered — a full listing, paid only in that
  * degenerate case. */
private[graft] object PrunedRead {
  def apply(s: SparkSession, dirs: Seq[String], key: String, values: Seq[Any],
      schema: Option[StructType]): DataFrame = {
    val want = values.map(v => s"$key=$v").toSet
    val conf = s.sparkContext.hadoopConfiguration
    def reader = schema.fold(s.read)(s.read.schema)
    val reads = dirs.flatMap { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      val leaves = p.getFileSystem(conf).listStatus(p).toSeq
        .filter(st => st.isDirectory && want(st.getPath.getName))
        .map(_.getPath.toString)
      if (leaves.isEmpty) None
      else Some(reader.option("basePath", dir).parquet(leaves: _*))
    }
    reads.reduceOption(_ unionByName _) match {
      case Some(d) => d.filter(col(key).isin(values: _*))
      case None => schema match {
        case Some(sc) => s.createDataFrame(java.util.Collections.emptyList[Row](), sc)
        case None => reader.parquet(dirs.head).filter(col(key).isin(values: _*))
      }
    }
  }
}
