package graft.ts

import org.scalatest.funsuite.AnyFunSuite

class KernelsSpec extends AnyFunSuite {

  private def approx(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---- quadratic detrend ----

  test("quad residuals of an exact quadratic are zero") {
    val t = (1 to 40).map(_.toDouble).toArray
    val y = t.map(x => 2.0 + 0.5 * x - 0.03 * x * x)
    val r = Kernels.quadResiduals(t, y, minObs = 30)
    assert(r.forall(v => math.abs(v) < 1e-9))
  }

  test("quad residuals sum to ~0 and are orthogonal to t and t^2") {
    val rng = new scala.util.Random(7)
    val t = (1 to 50).map(_.toDouble).toArray
    val y = t.map(x => 10 + x + 0.1 * x * x + rng.nextGaussian())
    val r = Kernels.quadResiduals(t, y, minObs = 30)
    assert(math.abs(r.sum) < 1e-7)
    assert(math.abs(r.zip(t).map { case (a, b) => a * b }.sum) < 1e-5)
    assert(math.abs(r.zip(t).map { case (a, b) => a * b * b }.sum) < 1e-3)
  }

  test("quad detrend returns all-NaN below minObs and preserves NaN slots") {
    val t = (1 to 29).map(_.toDouble).toArray
    val y = t.map(x => x * x)
    assert(Kernels.quadResiduals(t, y, minObs = 30).forall(_.isNaN))

    val t2 = (1 to 35).map(_.toDouble).toArray
    val y2 = t2.map(x => x + 1)
    y2(5) = Double.NaN
    val r2 = Kernels.quadResiduals(t2, y2, minObs = 30)
    assert(r2(5).isNaN && !r2(6).isNaN)
  }

  test("quad residuals are invariant to affine shifts of t (reference t basis)") {
    val rng = new scala.util.Random(13)
    val years = (1975 to 2019).map(_.toDouble).toArray
    val y = years.map(x => 3 + 0.01 * x + rng.nextGaussian())
    val shifted = years.map(_ - years.min + 1) // reference: t = Year-min+1
    val a = Kernels.quadResiduals(years, y, 30)
    val b = Kernels.quadResiduals(shifted, y, 30)
    assert(a.zip(b).forall { case (x, z) => approx(x, z, 1e-8) })
  }

  // ---- HP filter ----

  test("HP trend + cycle reconstructs the input") {
    val rng = new scala.util.Random(11)
    val x = (1 to 45).map(i => 100 + 2.0 * i + 5 * rng.nextGaussian()).toArray
    val trend = Kernels.hpTrend(x, 100.0)
    val cyc = Kernels.hpCycle(x, 100.0, 30)
    x.indices.foreach { i => assert(approx(trend(i) + cyc(i), x(i), 1e-10)) }
  }

  test("HP filter of a linear series has ~zero cycle") {
    val x = (1 to 40).map(i => 5.0 + 3.0 * i).toArray
    val cyc = Kernels.hpCycle(x, 100.0, 30)
    assert(cyc.forall(v => math.abs(v) < 1e-8))
  }

  test("HP solver satisfies (I + lambda D'D) tau = x") {
    val rng = new scala.util.Random(3)
    val m = 37
    val x = Array.fill(m)(rng.nextDouble() * 10)
    val lambda = 6.25
    val tau = Kernels.hpTrend(x, lambda)
    // Apply the pentadiagonal operator row-wise and compare with x.
    def at(i: Int): Double = if (i < 0 || i >= m) 0.0 else tau(i)
    (0 until m).foreach { i =>
      // (D'D tau)_i = tau_{i-2} - 4 tau_{i-1} + 6 tau_i - 4 tau_{i+1} + tau_{i+2}
      // with boundary rows truncated; easiest exact form: sum over the D rows.
      var dtd = 0.0
      (math.max(0, i - 2) to math.min(m - 3, i)).foreach { r =>
        val coefI = i - r match {
          case 0 => 1.0
          case 1 => -2.0
          case 2 => 1.0
        }
        val rowDot = at(r) - 2 * at(r + 1) + at(r + 2)
        dtd += coefI * rowDot
      }
      assert(approx(tau(i) + lambda * dtd, x(i), 1e-8))
    }
  }

  test("HP cycle preserves NaN positions and needs minObs") {
    val x = (1 to 40).map(_.toDouble * 1.5).toArray
    x(3) = Double.NaN
    val cyc = Kernels.hpCycle(x, 100.0, 30)
    assert(cyc(3).isNaN && !cyc(4).isNaN)
    assert(Kernels.hpCycle(Array.fill(10)(1.0), 100.0, 30).forall(_.isNaN))
  }

  test("property: HP reconstruction holds across random series and lambdas") {
    val rng = new scala.util.Random(42)
    (1 to 50).foreach { _ =>
      val m = 30 + rng.nextInt(30)
      val lambda = Seq(6.25, 100.0, 1600.0)(rng.nextInt(3))
      val x = Array.fill(m)(rng.nextDouble() * 100 - 50)
      val trend = Kernels.hpTrend(x, lambda)
      val cyc = Kernels.hpCycle(x, lambda, 30)
      x.indices.foreach(i => assert(approx(trend(i) + cyc(i), x(i), 1e-9)))
    }
  }
}
