package graftbench

import graft.sources.polygonscan.HttpPageSource
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StubSpec extends AnyFunSuite {

  private def withStub[T](wallets: Seq[String])(body: PolygonscanStub => T): T = {
    val stub = new PolygonscanStub(wallets, pageSize = 10000, delayMs = 0, threads = 2)
    try body(stub) finally stub.stop()
  }

  test("an exactly-full page is followed by the empty envelope (0xw0 at pageSize 10000)") {
    withStub(Seq("0xw0")) { stub =>
      val client = HttpPageSource(stub.baseUrl, "k")
      val p1 = client.fetch("0xw0", 0L, PolygonscanStub.MaxBlock, 1, 10000)
      assert(p1.size == 10000)
      assert(p1.head.blockNumber == 0L && p1.last.blockNumber == 9999L)
      assert(client.fetch("0xw0", 0L, PolygonscanStub.MaxBlock, 2, 10000).isEmpty)
      val st = stub.drain()
      assert(st.requests == 2 && st.pages == 1 && st.retries == 0)
    }
  }

  test("a wallet ends on a short last page") {
    // 0xw1: (1%3+1)*10000 + 7919 = 27919 transfers
    withStub(Seq("0xw1")) { stub =>
      val client = HttpPageSource(stub.baseUrl, "k")
      val sizes = (1 to 4).map(p =>
        client.fetch("0xw1", 0L, PolygonscanStub.MaxBlock, p, 10000).size)
      assert(sizes == Seq(10000, 10000, 7919, 0))
      val st = stub.drain()
      assert(st.requests == 4 && st.pages == 3)
      assert(st.bytes > 0 && st.inflightMax >= 1)
    }
  }

  test("a repeated page request counts as a retry") {
    withStub(Seq("0xw2")) { stub =>
      val client = HttpPageSource(stub.baseUrl, "k")
      client.fetch("0xw2", 0L, PolygonscanStub.MaxBlock, 1, 10000)
      client.fetch("0xw2", 0L, PolygonscanStub.MaxBlock, 1, 10000)
      assert(stub.drain().retries == 1)
    }
  }

  test("the connector pages through the stub to every row") {
    withStub(Seq("0xw0", "0xw1")) { stub =>
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.ui.enabled", "false").getOrCreate()
      try {
        val n = spark.read.format("polygonscan")
          .option("wallets", "0xw0,0xw1").option("pageSize", "10000")
          .option("source", "http").option("baseUrl", stub.baseUrl)
          .option("mode", "failfast").load().count()
        assert(n == 10000L + 27919L)
        // 0xw0: a full page, then the empty envelope; 0xw1: the short
        // third page ends the wallet without a fourth request
        assert(stub.drain().requests == 2 + 3)
      } finally spark.stop()
    }
  }
}
