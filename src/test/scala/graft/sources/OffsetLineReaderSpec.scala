package graft.sources

import java.io.{IOException, InputStream, InterruptedIOException}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The dump scan's line reader on a stream that breaks the InputStream
  * contract.
  */
class OffsetLineReaderSpec extends AnyFunSuite with TimeLimits {

  // the time limit interrupts the test thread, and the stub turns the
  // interrupt into an exception, so a spinning reader fails the test
  // instead of hanging it
  implicit val signaler: Signaler = ThreadSignaler

  test("a stream whose read returns 0 fails with the byte offset instead of spinning") {
    // one whole line and the start of a second, then reads that never
    // block and never advance
    val in = new InputStream {
      private var served = false
      def read(): Int = 0
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (Thread.interrupted()) throw new InterruptedIOException("time limit")
        else if (served) 0
        else {
          served = true
          "ab\ncd".getBytes.copyToArray(b, off)
          5
        }
    }
    val reader = new OffsetLineReader(in)
    failAfter(10.seconds) {
      assert(reader.readLine() == "ab")
      val e = intercept[IOException](reader.readLine())
      assert(e.getMessage.contains("byte offset 5"), e.getMessage)
    }
  }
}
