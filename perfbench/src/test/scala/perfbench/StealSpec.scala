package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StealSpec extends AnyFunSuite {

  private def stat(user: Long, system: Long, idle: Long, steal: Long) =
    s"""cpu  $user 0 $system $idle 0 0 0 $steal 0 0
       |cpu0 $user 0 $system $idle 0 0 0 $steal 0 0
       |intr 1 2 3
       |""".stripMargin

  test("busy and steal seconds come from the cpu line in USER_HZ ticks") {
    val s = Steal.parse(stat(user = 300, system = 100, idle = 5000, steal = 50))
    assert(s.busyS == 4.0)
    assert(s.stealS == 0.5)
  }

  test("the stolen share is steal over the CPU time work wanted") {
    val a = Steal.parse(stat(100, 0, 0, 0))
    val b = Steal.parse(stat(400, 0, 9000, 100))
    assert(Steal.share(a, b) == 0.25)
    assert(Steal.share(a, a) == 0.0)
  }

  test("a text without a cpu line reads as no time at all") {
    assert(Steal.parse("intr 1 2 3\n") == Steal.Sample(0, 0))
  }
}
