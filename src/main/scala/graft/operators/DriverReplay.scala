package graft.operators

import org.apache.spark.sql.types._

/** Shared guard for the bounded-graph driver fast paths
  * ([[PageRank]], [[graft.dedup.Clusters]]): node types whose
  * DRIVER-side equality AND ordering of collected row values provably
  * match Spark's — integral/boolean/decimal natural ordering, date and
  * timestamp chronology, and strings compared as unsigned UTF-8 bytes
  * (the replays do exactly that; java.lang.String's UTF-16 compareTo
  * diverges from UTF8String beyond the BMP and is never used).
  * Float/double decline (Spark's aggregation normalizes -0.0/NaN,
  * boxed equality does not), as does binary (collected arrays compare
  * by reference). One predicate for both fast paths so a type
  * admitted or rejected in one can never silently diverge in the
  * other.
  */
object DriverReplay {

  /** Probe cap of both fast paths: 2^18 edges keeps the probe collect
    * at a few MB; a larger graph keeps the distributed loop, the
    * operators' scale story. Each replay is the SAME integer
    * recurrence as its distributed loop, so the two paths agree
    * exactly (spec-pinned).
    */
  val MaxEdges: Int = 1 << 18

  def orderedNodeType(t: DataType): Boolean = t match {
    case StringType | BooleanType | ByteType | ShortType |
         IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }
}
