package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructType}

/** Exact global order without a one-partition window: the one
  * implementation of the two-level recipe behind every global rank,
  * prefix sum and ring in the engine.
  *
  * Range-partition the rows by the total order (keys…, id), so the
  * partitions tile it, sort within partitions, and walk each sorted
  * range once. The walk gives every row its partition-local running
  * sum and its local successor. One P-row stats collect (each
  * non-empty partition's total and first carried value) becomes
  * per-partition offsets and seam successors on the driver, and a
  * broadcast join adds them back. Boundary placement does not matter:
  * ranges are contiguous in the full order, so offset + local value is
  * exact wherever repartitionByRange's sampled cuts land. P is the
  * session's shuffle partition count, which AQE may coalesce.
  *
  * The walk is one mapPartitions over the sorted ranges, so the input
  * crosses exactly ONE exchange, the range partition. A window
  * partitioned by the partition id would shuffle everything again:
  * Catalyst cannot see that rows with one partition id already sit
  * together. The walked frame is localCheckpoint()ed before the stats
  * collect, because the offsets must describe the cuts the rows were
  * walked under, and an unpinned lineage could resample other cuts.
  */
object GlobalOrder {

  /** `df` plus `rankCol`: the exact rank 1..N in (keys…, idCol) order.
    * idCol makes the order total, so the rank is deterministic under
    * any partitioning.
    */
  def rank(df: DataFrame, idCol: String, keys: Seq[Column],
      rankCol: String): DataFrame =
    walk(df, keys :+ col(idCol), lit(1L), lit(null).cast(LongType))._1
      .drop("_go_next").withColumnRenamed("_go_run", rankCol)

  /** `df` plus `sumCol`: the inclusive running sum of the long column
    * `valueCol` in (keys…, idCol) order (a null value adds 0), and the
    * grand total.
    */
  def runningSum(df: DataFrame, idCol: String, keys: Seq[Column],
      valueCol: String, sumCol: String): (DataFrame, Long) = {
    val (out, total) = walk(df, keys :+ col(idCol), col(valueCol),
      lit(null).cast(LongType))
    (out.drop("_go_next").withColumnRenamed("_go_run", sumCol), total)
  }

  /** `df` plus `nextCol`: the `keyCol` value of the next row in
    * `keyCol` order; the maximum's successor wraps to the minimum.
    */
  def successor(df: DataFrame, keyCol: String, nextCol: String): DataFrame =
    walk(df, Seq(col(keyCol)), lit(0L), col(keyCol))._1
      .drop("_go_run").withColumnRenamed("_go_next", nextCol)

  /** The shared core: `df` plus `_go_run`, the global inclusive
    * running sum of `weight`, and `_go_next`, the global cyclic
    * successor's `carry`; and the total of `weight`.
    */
  private def walk(df: DataFrame, order: Seq[Column], weight: Column,
      carry: Column): (DataFrame, Long) = {
    val in = df.withColumn("_go_w", weight.cast(LongType)).withColumn("_go_c", carry)
    val (iw, ic) = (in.schema.length - 2, in.schema.length - 1)
    val carryType = in.schema(ic).dataType
    val walkedSchema = in.schema
      .add("_go_pid", IntegerType, nullable = false)
      .add("_go_last", BooleanType, nullable = false)
      .add("_go_run", LongType, nullable = false)
      .add("_go_next", carryType)
    // one pass per sorted range: local running sum, local successor;
    // the range's last row carries the range total and, as its
    // successor, the range's first carry (the seam value its
    // predecessor range needs)
    val walked = in.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .mapPartitions { rows =>
        val pid = TaskContext.getPartitionId()
        val it = rows.buffered
        val first = if (it.hasNext) it.head.get(ic) else null
        var run = 0L
        it.map { r =>
          if (!r.isNullAt(iw)) run += r.getLong(iw)
          val last = !it.hasNext
          Row.fromSeq(r.toSeq ++ Seq(pid, last, run,
            if (last) first else it.head.get(ic)))
        }
      }(Encoders.row(walkedSchema))
      .localCheckpoint()
    val stats = walked.filter(col("_go_last"))
      .select(col("_go_pid"), col("_go_run"), col("_go_next"))
      .collect().sortBy(_.getInt(0))
    val seams = StructType(Seq(walkedSchema("_go_pid")))
      .add("_go_off", LongType, nullable = false).add("_go_seam", carryType)
    var total = 0L
    val offsets = stats.indices.map { i =>
      val off = total
      total += stats(i).getLong(1)
      Row(stats(i).getInt(0), off, stats((i + 1) % stats.length).get(2))
    }
    val out = walked
      .join(broadcast(df.sparkSession.createDataFrame(offsets.asJava, seams)),
        "_go_pid")
      .withColumn("_go_run", col("_go_run") + col("_go_off"))
      .withColumn("_go_next",
        when(col("_go_last"), col("_go_seam")).otherwise(col("_go_next")))
      .drop("_go_pid", "_go_last", "_go_off", "_go_seam", "_go_w", "_go_c")
    (out, total)
  }
}
