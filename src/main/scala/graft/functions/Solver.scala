package graft.functions

/** Root-finding primitives — ports of the scipy.optimize calls the
  * reference makes (`brentq`, secant `root_scalar(x0,x1)`), the
  * references `E.secant` and `E.brent` follow op for op and the tests
  * compare the trees against. Deterministic, allocation-free.
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
}
