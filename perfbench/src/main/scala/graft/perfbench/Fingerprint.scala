package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}

/** Order-independent digest of a query's full output: columns sorted by
  * name (as `tools/oracle_check.py` compares them), one 64-bit hash per
  * row, and the row count plus the two 32-bit halves of the hashes
  * summed. Row order and partition layout do not change it; any changed
  * value, row or column does (up to hash collisions).
  *
  * It runs over `queryExecution.toRdd`, the query's own physical plan,
  * so computing the digest is also what executes the query: no column
  * is pruned and nothing runs twice. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val qe = df.queryExecution
    val out = qe.analyzed.output
    val refs = out.zipWithIndex.sortBy(_._1.name).map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    }
    val hash = XxHash64(refs, 42L)
    val (n, lo, hi) = qe.toRdd.mapPartitions { rows =>
      var n, lo, hi = 0L
      rows.foreach { r =>
        val h = hash.eval(r).asInstanceOf[Long]
        n += 1; lo += h & 0xffffffffL; hi += h >>> 32
      }
      Iterator((n, lo, hi))
    }.collect().foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c + z)
    }
    f"$n:$lo%x:$hi%x"
  }

  /** Row count encoded in a digest. */
  def rows(fp: String): Long = fp.takeWhile(_ != ':').toLong
}
