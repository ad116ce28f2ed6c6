package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.SQLExecution

/** The benchmark's action: every output row is projected to an
  * `UnsafeRow` (which evaluates every column, unlike `count()`, where
  * Catalyst prunes projected columns away) and folded into an
  * order-sensitive digest.  The digest is two polynomial hashes mod
  * 2^31-1 over the rows' Murmur3 hashes, combined across partitions by
  * partition index, so it depends on the rows and their order but not on
  * how the rows are split into partitions.  The action runs as one SQL
  * execution, so query-execution listeners see it like any other. */
object Digest {
  private val M = 2147483647L
  private val B1 = 1000003L
  private val B2 = 916132831L

  final case class Result(rows: Long, digest: String)

  private def pow(b: Long, e: Long): Long = {
    var r = 1L
    var x = b
    var k = e
    while (k > 0) {
      if ((k & 1L) == 1L) r = r * x % M
      x = x * x % M
      k >>= 1
    }
    r
  }

  def apply(df: DataFrame): Result = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.digest")) {
      qe.toRdd.mapPartitionsWithIndex { (i, it) =>
        val proj = UnsafeProjection.create(types)
        var n = 0L
        var h1 = 0L
        var h2 = 0L
        while (it.hasNext) {
          val x = (proj(it.next()).hashCode.toLong & 0xffffffffL) % M + 1
          h1 = (h1 * B1 + x) % M
          h2 = (h2 * B2 + x) % M
          n += 1
        }
        Iterator.single((i, n, h1, h2))
      }.collect()
    }
    var (n, h1, h2) = (0L, 0L, 0L)
    parts.sortBy(_._1).foreach { case (_, pn, p1, p2) =>
      h1 = (h1 * pow(B1, pn) + p1) % M
      h2 = (h2 * pow(B2, pn) + p2) % M
      n += pn
    }
    Result(n, f"$h1%08x$h2%08x")
  }
}
