package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.functions.VecKernels

/** The `functions` layer on its own: ns per element of the engine's
  * kernels on `UnsafeArrayData` (the layout codegen hands them), beside a
  * plain `float[]` loop as the floor. Each figure is the median of five
  * timed passes after an untimed one.
  */
object KernelBench {
  private val Dim = 128
  private val N = 2048
  private val PqM = 16
  private val SetLen = 96

  @volatile private var sink = 0.0

  private def nsPer(elems: Long)(pass: => Double): Double = {
    sink += pass
    val xs = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / elems
    }
    Stats.median(xs)
  }

  def run(gen: Gen): Seq[(String, Double, String)] = {
    val raw = gen.mixture("kernel.vectors", N, Dim, 8)
    val q = raw(0)
    val uq = UnsafeArrayData.fromPrimitiveArray(q)
    val un = raw.map(v => UnsafeArrayData.fromPrimitiveArray(v))
    val bytes = raw.map(v => v.map(x => math.max(-127, math.min(127, (x * 40).round)).toByte))
    val r = gen.stream("kernel.codes")
    val codes = Array.fill(N)(UnsafeArrayData.fromPrimitiveArray(Array.fill(PqM)(r.nextInt(256))))
    val lut = Array.fill(PqM, 256)(r.nextDouble())
    val sets = Array.fill(N)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(SetLen)(r.nextLong() & 0xFFFL).distinct.sorted))
    val setElems = sets.map(_.numElements().toLong + sets(0).numElements()).sum
    val reps = 8
    val dims = N.toLong * Dim * reps
    def loop(f: Int => Double): Double = {
      var s = 0.0; var k = 0
      while (k < reps) { var i = 0; while (i < N) { s += f(i); i += 1 }; k += 1 }
      s
    }
    Seq(
      ("functions.l2sq_ns_per_dim", nsPer(dims)(loop(i => VecKernels.l2sq(un(i), uq))), "ns"),
      ("functions.dot_ns_per_dim", nsPer(dims)(loop(i => VecKernels.dot(un(i), uq))), "ns"),
      ("functions.i8dot_ns_per_dim", nsPer(dims)(loop(i => VecKernels.i8Dot(bytes(i), bytes(0)))), "ns"),
      ("functions.pq_adc_ns_per_code",
        nsPer(N.toLong * PqM * reps)(loop(i => VecKernels.pqAdc(codes(i), lut))), "ns"),
      ("functions.common_count_ns_per_elem",
        nsPer(setElems * reps)(loop(i => VecKernels.sortedCommonCount(sets(i), sets(0)).toDouble)), "ns"),
      ("functions.raw_l2sq_ns_per_dim", nsPer(dims)(loop(i => rawL2sq(raw(i), q))), "ns"))
  }

  private def rawL2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }
}
