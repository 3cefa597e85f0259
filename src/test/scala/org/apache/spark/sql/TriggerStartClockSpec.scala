package org.apache.spark.sql

import org.scalatest.funsuite.AnyFunSuite

/** The trigger clock of [[GraftBridge.startForeachBatch]]: the processing-time
  * trigger's wait runs to one interval after the current trigger's start,
  * whatever grid point Spark asks for, and a trigger that overran the
  * interval is followed at once.
  */
class TriggerStartClockSpec extends AnyFunSuite {
  private val interval = 300L

  test("the wait counts the interval from the trigger's start, not from the grid point asked for") {
    // read before the clock takes its own start, so that start is no earlier
    val created = System.currentTimeMillis()
    val clock = new GraftBridge.TriggerStartClock(interval)
    // Spark asks for the next multiple of the interval since 1970; a far
    // target shows that it is not what the clock waits for
    val first = clock.waitTillTime(created + 20 * interval)
    assert(first >= created + interval)
    assert(first < created + 20 * interval)
    Thread.sleep(interval / 4) // a trigger shorter than the interval
    val second = clock.waitTillTime(0L)
    assert(second >= first + interval)
  }

  test("a trigger that ran longer than the interval is followed at once") {
    val clock = new GraftBridge.TriggerStartClock(interval)
    clock.waitTillTime(0L)
    Thread.sleep(interval + 100)
    val before = clock.getTimeMillis()
    val second = clock.waitTillTime(0L)
    assert(second >= before)
    assert(second - before < interval)
  }
}
