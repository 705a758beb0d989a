package perfbench

import java.util.Properties
import scala.collection.mutable.ArrayBuffer

/** Unit tests of the benchmark's pure helpers (no Spark session):
  *
  *   python3 perfbench/build.py test
  */
object UnitTests {
  private val failures = ArrayBuffer.empty[String]
  private var count = 0

  private def test(name: String)(body: => Unit): Unit = {
    count += 1
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  def main(args: Array[String]): Unit = {
    test("median of odd and even counts") {
      check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "odd")
      check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "even")
    }

    test("union merges overlapping and touching intervals") {
      val u = Intervals.union(Seq(Interval(5, 7), Interval(0, 2), Interval(1, 3), Interval(3, 4),
        Interval(9, 9)))
      check(u == Seq(Interval(0, 4), Interval(5, 7)), s"$u")
    }

    test("subtract leaves the uncovered pieces") {
      val r = Intervals.subtract(Seq(Interval(0, 10)), Seq(Interval(2, 3), Interval(2.5, 4), Interval(8, 12)))
      check(r == Seq(Interval(0, 2), Interval(4, 8)), s"$r")
      check(Intervals.subtract(Seq(Interval(0, 1)), Nil) == Seq(Interval(0, 1)), "nothing to cut")
      check(Intervals.subtract(Seq(Interval(1, 2)), Seq(Interval(0, 5))).isEmpty, "all covered")
    }

    test("self time subtracts the union of overlapping children") {
      val parent = Span(1, "align.train", None, "r", 0, 100, 0)
      val kids = Seq(
        Span(2, "align.encode", Some(1), "r", 10, 40, 0),
        Span(3, "candidates", Some(1), "r", 30, 50, 0), // overlaps child 2
        Span(4, "candidates", Some(3), "r", 35, 45, 0)) // grandchild: not subtracted from 1
      val self = Span.self(parent, parent +: kids)
      check(near(self.map(_.length).sum, 60.0), s"$self")
      check(near(Span.self(kids(1), parent +: kids).map(_.length).sum, 10.0), "child self")
    }

    test("gap is self time with no job running, jobs of any span counting") {
      val spans = Seq(
        Span(1, "graph", None, "r", 0, 100, 5),
        Span(2, "embed", Some(1), "r", 60, 80, 0))
      val jobs = Seq(
        JobRecord(Some(1), Interval(10, 30)),
        JobRecord(Some(1), Interval(20, 40)), // overlaps the first job
        JobRecord(None, Interval(50, 70)),   // unattributed, still busy time
        JobRecord(Some(2), Interval(65, 75)))
      val totals = Map[Option[Int], TaskTotals](
        Some(1) -> TaskTotals(cpuNs = 2000000000L, shuffleWriteBytes = 1024L * 1024),
        Some(2) -> TaskTotals(cpuNs = 500000000L),
        None -> TaskTotals(cpuNs = 100000000L))
      val l = LayerReport.layers(spans, jobs, totals)
      val g = l("graph")
      // graph self = [0,60) + [80,100) = 80 ms; busy within it = [10,40) + [50,60) = 40 ms
      check(near(g.wallS, 0.080), s"graph wall ${g.wallS}")
      check(near(g.gapS, 0.040), s"graph gap ${g.gapS}")
      check(g.jobs == 2 && near(g.cpuS, 2.0) && near(g.shuffleMb, 1.0) && g.rows == 5, s"$g")
      // embed self = [60,80); busy = [50,75) → gap [75,80) = 5 ms
      val e = l("embed")
      check(near(e.wallS, 0.020) && near(e.gapS, 0.005) && e.jobs == 1 && near(e.cpuS, 0.5), s"$e")
    }

    test("a job belongs to the innermost open span; none when the property is missing") {
      var prop: String = null
      val published = ArrayBuffer.empty[Option[Int]]
      def props: Properties = { val p = new Properties; if (prop != null) p.setProperty(Span.Property, prop); p }
      var t = 0.0
      val rec = new SpanRecorder("r", v => prop = v, () => { t += 1; t })
      check(Span.attributed(props).isEmpty, "before any span")
      rec.span[Unit]("align.train", _ => 0L) {
        published += Span.attributed(props)
        rec.span[Unit]("candidates", _ => 0L) { published += Span.attributed(props) }
        published += Span.attributed(props)
      }
      check(Span.attributed(props).isEmpty, "after the outer span closes")
      check(published == Seq(Some(1), Some(2), Some(1)), s"$published")
      val s = rec.spans.sortBy(_.id)
      check(s.map(_.parent) == Seq(None, Some(1)), s"parents ${s.map(_.parent)}")
      check(s.forall(_.run == "r") && s.forall(x => x.end > x.start), "run id and order")
    }

    test("attribution ignores a missing, malformed or negative property") {
      check(Span.attributed(null).isEmpty, "null properties")
      val p = new Properties
      check(Span.attributed(p).isEmpty, "missing")
      p.setProperty(Span.Property, "x1"); check(Span.attributed(p).isEmpty, "malformed")
      p.setProperty(Span.Property, "-3"); check(Span.attributed(p).isEmpty, "negative")
      p.setProperty(Span.Property, "12"); check(Span.attributed(p).contains(12), "valid")
    }

    test("a span that throws still closes and restores the outer span") {
      var prop: String = null
      val rec = new SpanRecorder("r", v => prop = v, () => 0.0)
      rec.span[Unit]("inc.delta", _ => 0L) {
        try rec.span[Unit]("inc.save", _ => 0L)(throw new RuntimeException("boom"))
        catch { case _: RuntimeException => () }
        check(prop == "1", s"restored to $prop")
      }
      check(prop == null && rec.spans.length == 2, "both recorded")
    }

    println(s"${count - failures.length}/$count passed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
