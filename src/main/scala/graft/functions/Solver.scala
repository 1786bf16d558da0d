package graft.functions

/** Root-finding primitives used inside row-local UDFs — ports of the
  * scipy.optimize calls the reference makes (`brentq`, secant
  * `root_scalar(x0,x1)`, 2-D `root`). Deterministic, allocation-free.
  */
object Solver {

  /** Brent's method on a bracketing interval (scipy.optimize.brentq /
    * bracketed root_scalar). */
  def brent(f: Double => Double, a0: Double, b0: Double,
            tol: Double = 1e-12, maxIter: Int = 200): Double = {
    var a = a0; var b = b0
    var fa = f(a); var fb = f(b)
    if (fa == 0.0) return a
    if (fb == 0.0) return b
    require(fa * fb < 0.0, s"root not bracketed: f($a)=$fa f($b)=$fb")
    var c = a; var fc = fa
    var d = b - a; var e = d
    var i = 0
    while (i < maxIter) {
      if (math.abs(fc) < math.abs(fb)) {
        a = b; b = c; c = a
        fa = fb; fb = fc; fc = fa
      }
      val tol1 = 2.0 * Math.ulp(math.abs(b)) + 0.5 * tol
      val xm = 0.5 * (c - b)
      if (math.abs(xm) <= tol1 || fb == 0.0) return b
      if (math.abs(e) >= tol1 && math.abs(fa) > math.abs(fb)) {
        val s = fb / fa
        var p = 0.0; var q = 0.0
        if (a == c) { // secant
          p = 2.0 * xm * s; q = 1.0 - s
        } else { // inverse quadratic
          val q0 = fa / fc; val r = fb / fc
          p = s * (2.0 * xm * q0 * (q0 - r) - (b - a) * (r - 1.0))
          q = (q0 - 1.0) * (r - 1.0) * (s - 1.0)
        }
        if (p > 0.0) q = -q
        p = math.abs(p)
        if (2.0 * p < math.min(3.0 * xm * q - math.abs(tol1 * q), math.abs(e * q))) {
          e = d; d = p / q
        } else { d = xm; e = d }
      } else { d = xm; e = d }
      a = b; fa = fb
      b += (if (math.abs(d) > tol1) d else if (xm > 0) tol1 else -tol1)
      fb = f(b)
      if ((fb > 0) == (fc > 0)) { c = a; fc = fa; d = b - a; e = d }
      i += 1
    }
    b
  }

  /** Secant iteration (scipy root_scalar with x0/x1 and no bracket). */
  def secant(f: Double => Double, x0: Double, x1: Double,
             tol: Double = 1e-10, maxIter: Int = 100): Double = {
    var a = x0; var b = x1
    var fa = f(a); var fb = f(b)
    var i = 0
    while (math.abs(fb) > tol && i < maxIter) {
      val denom = fb - fa
      if (denom == 0.0) return b
      val c = b - fb * (b - a) / denom
      a = b; fa = fb
      b = c; fb = f(b)
      i += 1
    }
    b
  }

  /** Damped 2-D Newton with forward-difference Jacobian (stand-in for
    * scipy.optimize.root(hybr); same fixed points, documented algorithmic
    * difference). Returns the solution vector. */
  def newton2d(f: (Double, Double) => (Double, Double),
               x0: Double, y0: Double,
               clampX: Double => Double = identity,
               clampY: Double => Double = identity,
               tol: Double = 1e-9, maxIter: Int = 100): (Double, Double) = {
    var x = x0; var y = y0
    var i = 0
    while (i < maxIter) {
      val (f1, f2) = f(x, y)
      if (math.abs(f1) < tol && math.abs(f2) < tol) return (x, y)
      val hx = math.max(1e-8, math.abs(x) * 1e-7)
      val hy = math.max(1e-8, math.abs(y) * 1e-7)
      val (f1x, f2x) = f(clampX(x + hx), y)
      val (f1y, f2y) = f(x, clampY(y + hy))
      val j11 = (f1x - f1) / hx; val j12 = (f1y - f1) / hy
      val j21 = (f2x - f2) / hx; val j22 = (f2y - f2) / hy
      val det = j11 * j22 - j12 * j21
      if (det == 0.0 || det.isNaN) return (x, y)
      var dx = -(f1 * j22 - f2 * j12) / det
      var dy = -(j11 * f2 - j21 * f1) / det
      // dampen large steps
      val scale = math.min(1.0, 0.5 * math.abs(x) / (math.abs(dx) + 1e-30))
      if (scale < 1.0) { dx *= scale; dy *= scale }
      x = clampX(x + dx); y = clampY(y + dy)
      i += 1
    }
    (x, y)
  }
}
