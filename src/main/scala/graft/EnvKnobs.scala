package graft

/** The numeric env knobs the entry points read, checked at startup: a
  * malformed or non-positive value stops the run with a usage line
  * naming the variable instead of silently becoming the default.
  */
object EnvKnobs {

  /** `SPARK_GRAFT_CPUS`: local cores, also the shuffle partition count. */
  def cpus(default: Int): Int =
    orExit(positiveInt("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"), default))

  /** `SPARK_GRAFT_CALIB_FLOOR`: quiet-box calibration seconds (Bench). */
  def calibrationFloor(default: Double): Double =
    orExit(positiveDouble("SPARK_GRAFT_CALIB_FLOOR",
      sys.env.get("SPARK_GRAFT_CALIB_FLOOR"), default))

  def positiveInt(name: String, raw: Option[String], default: Int): Either[String, Int] =
    check(name, "integer", raw, default)(_.toIntOption.filter(_ > 0))

  def positiveDouble(name: String, raw: Option[String], default: Double): Either[String, Double] =
    check(name, "number", raw, default)(
      _.toDoubleOption.filter(d => d > 0 && !d.isInfinite))

  private def check[A](name: String, kind: String, raw: Option[String], default: A)(
      parse: String => Option[A]): Either[String, A] =
    raw.fold[Either[String, A]](Right(default))(v =>
      parse(v.trim).toRight(s"usage: $name must be a positive $kind, got '$v'"))

  private def orExit[A](v: Either[String, A]): A =
    v.fold(usage => { System.err.println(usage); sys.exit(2) }, identity)
}
