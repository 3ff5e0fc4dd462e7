package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style coverage (seeded sampling) for the bounded top-k
  * insertion buffer of [[CosineKernels]] (ranked cells, bucket and probe
  * top-k, v17's hamming prerank). The reference
  * implementation is a full sort under SQL ordering — (score DESC with
  * NaN ranking first, id ASC on ties) — which is exactly the row_number
  * ordering of the declarative forms the kernels replace.
  */
class TopKBufferPropSpec extends AnyFunSuite {

  private val rnd = new Random(1234)

  private def sqlLt(a: (Double, Long), b: (Double, Long)): Boolean = {
    // "a ranks before b": score desc with NaN first, then id asc
    val cmp =
      if (a._1.isNaN && b._1.isNaN) 0
      else if (a._1.isNaN) -1
      else if (b._1.isNaN) 1
      else java.lang.Double.compare(b._1, a._1)
    if (cmp != 0) cmp < 0 else a._2 < b._2
  }

  private def reference(items: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    items.sortWith(sqlLt).take(k)

  test("buffer matches a full SQL-ordered sort on random streams with NaNs and ties") {
    (1 to 300).foreach { trial =>
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      val items = Seq.fill(n) {
        // quantized scores force ties; ~5% NaN exercises the NaN branch
        val score =
          if (rnd.nextInt(20) == 0) Double.NaN
          else (rnd.nextInt(10) - 5) / 4.0
        (score, rnd.nextInt(25).toLong)
      }
      val buf = new CosineKernels.TopKBuffer(k)
      items.foreach { case (s, id) => buf.insert(s, id) }
      val got = (0 until buf.filled).map(i => (buf.scores(i), buf.ids(i)))
      val want = reference(items, k)
      // compare with NaN-aware equality (== is false for NaN pairs)
      def eq(a: (Double, Long), b: (Double, Long)): Boolean =
        a._2 == b._2 && (a._1 == b._1 || (a._1.isNaN && b._1.isNaN))
      assert(got.size == want.size &&
        got.zip(want).forall { case (a, b) => eq(a, b) },
        s"trial $trial k=$k items=$items\n got=$got\nwant=$want")
    }
  }
}
