package graft.table

/** Typed error taxonomy mirroring the reference's Python-visible exceptions
  * (timeseries-table-python/src/timeseries_table_format/_native.pyi:7-20). */
final case class CoverageOverlapException(segmentPath: String, overlapCount: Long, exampleBucket: Int)
  extends RuntimeException(
    s"append of '$segmentPath' overlaps existing coverage: $overlapCount buckets, e.g. bucket $exampleBucket")

final case class SchemaMismatchException(msg: String) extends RuntimeException(msg)

final case class EntityIdentityException(msg: String) extends RuntimeException(msg)

final case class InvalidRangeException(start: Long, end: Long)
  extends RuntimeException(s"invalid range: start $start must be < end $end")

final case class BucketDomainOverflowException(value: Long)
  extends RuntimeException(s"bucket id $value overflows the u32 bucket domain")

final case class CheckViolationException(check: String, predicate: String, violations: Long)
  extends RuntimeException(
    s"CHECK constraint '$check' ($predicate) violated by $violations row(s); write rejected")

/** A transaction's conflict set was invalidated: a segment it removes or
  * upserts was rewritten, dropped or re-DV'd by a concurrent commit since
  * it was read. Nothing was committed and the transaction's staged files
  * are gone, so the verb can be retried from a fresh snapshot. */
final class ConcurrentSegmentChangeException(msg: String) extends IllegalStateException(msg)
