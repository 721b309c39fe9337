package graft

import graft.sources.{BinsAbi, RpcBinsTask, RpcTransport}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import java.math.BigInteger

/** The JSON-RPC extract connector (S7 twin): batched eth_call POSTs,
  * ABI encode/decode round-trip, id-matched response decode, and
  * item-granular quarantine through the shared JSONL plane. */
class RpcSourceSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private def bi(s: String) = new BigInteger(s)

  private val bins1 = Seq(
    (8388607L, bi("4000000000000000000"), BigInteger.ZERO,
      bi("500"), bi("1000")),
    (8388608L, bi("123456789012345678901234567890"), bi("7"),
      bi("250"), bi("1000")))
  private val result1 = BinsAbi.encodeResult(8388608L, bins1)

  /** Canned node: answers every call in the batch with `resultFor`,
    * recording request bodies (synchronized — partitions fetch
    * concurrently from executor threads). */
  private def cannedNode(record: scala.collection.mutable.Buffer[String],
                         resultFor: Long => String): RpcTransport.Post =
    (_, body) => {
      record.synchronized { record += body }
      val req = mapper.readTree(body)
      assert(req.isArray, "connector must POST a JSON-RPC batch array")
      val items = (0 until req.size()).map { i =>
        val id = req.get(i).get("id").asLong()
        s"""{"jsonrpc":"2.0","id":$id,"result":"${resultFor(id)}"}"""
      }
      // reversed: the connector must match by id, not position
      items.reverse.mkString("[", ",", "]")
    }

  describe("BinsAbi (public Solidity ABI rules)") {
    it("encodes calldata as selector + five static words") {
      val data = BinsAbi.encodeCall(RpcBinsTask("0xA5c68C9E55Dde3505e60c4B5eAe411e2977dfB35",
        "0xaB12", 8388608L, 1000L, 1000L))
      assert(data.startsWith("0x" + BinsAbi.selector))
      assert(BinsAbi.selector.length == 8)
      assert(data.length == 2 + 8 + 5 * 64)
      // uint24 args land right-aligned in their words
      assert(data.substring(2 + 8 + 2 * 64, 2 + 8 + 3 * 64).endsWith("800000"))
      assert(data.substring(2 + 8 + 3 * 64, 2 + 8 + 4 * 64).endsWith("3e8"))
    }
    it("decodeBins inverts encodeResult, including uint128-scale reserves") {
      assert(BinsAbi.decodeBins(result1) == bins1)
      assert(BinsAbi.decodeBins(BinsAbi.encodeResult(1L, Nil)) == Nil)
    }
    it("fails on a malformed small word exactly as the BigInteger decode does") {
      // words 3 and 6: the first bin's id and shares, both long-sized;
      // a sign or a non-hex digit among their last 15 digits
      val hex = result1.stripPrefix("0x")
      for (w <- Seq(3, 6); bad <- Seq('-', '+', 'g')) {
        val at = w * 64 + 60
        val corrupt = hex.updated(at, bad)
        val expected = intercept[NumberFormatException](
          new BigInteger(corrupt.substring(w * 64, w * 64 + 64), 16))
        val got = intercept[NumberFormatException](BinsAbi.decodeBins(corrupt))
        assert(got.toString == expected.toString)
      }
    }
  }

  describe("RpcBinsSource (executor-side batched eth_call plane)") {
    it("batches tasks into one POST per partition and decodes matched-by-id rows") {
      val posts = scala.collection.mutable.Buffer.empty[String]
      RpcTransport.setOverride(cannedNode(posts, _ => result1))
      try {
        val tasks = (1 to 5).map(i => s"0xP$i,0xU$i,8388608,1000,1000").mkString(";")
        val df = spark.read.format("graft.sources.RpcBinsSource")
          .option("endpoint", "https://node/rpc")
          .option("contract", "0xA5c68C9E55Dde3505e60c4B5eAe411e2977dfB35")
          .option("tasks", tasks).option("batchSize", "2").load()
        assert(df.rdd.getNumPartitions == 3) // ceil(5/2) batches
        val rows = df.collect()
        assert(rows.length == 5 * bins1.length)
        assert(posts.size == 3)
        // every batch body is JSON-RPC 2.0 eth_call with our calldata
        posts.foreach { b =>
          val arr = mapper.readTree(b)
          (0 until arr.size()).foreach { i =>
            assert(arr.get(i).get("method").asText() == "eth_call")
            assert(arr.get(i).get("params").get(0).get("data").asText()
              .startsWith("0x" + BinsAbi.selector))
          }
        }
        // the uint128-scale reserve survives the decimal(38,0) decode
        val big = df.filter($"binId" === 8388608L)
          .select($"reserveX".cast("string")).as[String].collect().toSet
        assert(big == Set("123456789012345678901234567890"))
        // task identity is carried onto every decoded row
        assert(df.select($"user_address").as[String].distinct().collect().toSet ==
          (1 to 5).map(i => s"0xU$i").toSet)
      } finally RpcTransport.clearOverride()
    }

    it("quarantines a per-item RPC error without losing the rest of the batch") {
      RpcTransport.setOverride { (_, body) =>
        val req = mapper.readTree(body)
        (0 until req.size()).map { i =>
          val id = req.get(i).get("id").asLong()
          if (id == 1)
            s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32000,"message":"execution reverted"}}"""
          else s"""{"jsonrpc":"2.0","id":$id,"result":"$result1"}"""
        }.mkString("[", ",", "]")
      }
      try {
        val schema = StructType(graft.model.Schemas.binReserves.fields :+
          StructField("_corrupt_record", StringType))
        val df = spark.read.format("graft.sources.RpcBinsSource")
          .schema(schema)
          .option("endpoint", "https://node/rpc").option("contract", "0xC")
          .option("tasks", "0xP1,0xU1,1,1,1;0xP2,0xU2,1,1,1;0xP3,0xU3,1,1,1")
          .option("batchSize", "10").option("mode", "PERMISSIVE").load()
        val bad = df.filter($"_corrupt_record".isNotNull)
          .select($"_corrupt_record").as[String].collect()
        assert(bad.length == 1 && bad(0).contains("rpc-error") &&
          bad(0).contains("0xU2") && bad(0).contains("execution reverted"))
        assert(df.filter($"_corrupt_record".isNull).count() == 2 * bins1.length)
      } finally RpcTransport.clearOverride()
    }

    it("fails the whole scan on a transport error only in FAILFAST") {
      RpcTransport.setOverride((_, _) => throw new java.io.IOException("node down"))
      try {
        val read = spark.read.format("graft.sources.RpcBinsSource")
          .option("endpoint", "https://node/rpc").option("contract", "0xC")
          .option("tasks", "0xP1,0xU1,1,1,1")
        assertThrows[org.apache.spark.SparkException] {
          read.load().collect()
        }
        val schema = StructType(graft.model.Schemas.binReserves.fields :+
          StructField("_corrupt_record", StringType))
        val lenient = read.schema(schema).option("mode", "PERMISSIVE").load()
        val bad = lenient.select($"_corrupt_record").as[String].collect()
        assert(bad.length == 1 && bad(0).contains("setup-failed") &&
          bad(0).contains("node down"))
      } finally RpcTransport.clearOverride()
    }

    it("prunes columns and pushes predicates like the other connectors") {
      RpcTransport.setOverride(cannedNode(
        scala.collection.mutable.Buffer.empty[String], _ => result1))
      try {
        val df = spark.read.format("graft.sources.RpcBinsSource")
          .option("endpoint", "https://node/rpc").option("contract", "0xC")
          .option("tasks", "0xP1,0xU1,1,1,1").load()
          .filter($"binId" === 8388607L).select($"binId", $"shares")
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("EqualTo(binId,8388607)"), s"plan:\n$plan")
        assert(plan.contains("binId") && !plan.contains("reserveY"), s"plan:\n$plan")
        assert(df.count() == 1)
      } finally RpcTransport.clearOverride()
    }

    it("builds rows straight from the ABI words: decodeBins values, _corrupt_record pruned or null") {
      RpcTransport.setOverride(cannedNode(
        scala.collection.mutable.Buffer.empty[String], _ => result1))
      try {
        val schema = StructType(graft.model.Schemas.binReserves.fields :+
          StructField("_corrupt_record", StringType))
        val df = spark.read.format("graft.sources.RpcBinsSource").schema(schema)
          .option("endpoint", "https://node/rpc").option("contract", "0xC")
          .option("tasks", "0xP1,0xU1,1,1,1").option("mode", "PERMISSIVE").load()
        val bins = df.select(graft.model.Schemas.binReserves.fieldNames.toIndexedSeq.map(df.col): _*)
        val plan = bins.queryExecution.executedPlan.toString
        assert(!plan.contains("_corrupt_record"), s"plan:\n$plan")
        val got = bins.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDecimal(3).toBigIntegerExact, r.getDecimal(4).toBigIntegerExact,
          r.getDecimal(5).toBigIntegerExact, r.getDecimal(6).toBigIntegerExact))
        assert(got.toSeq.sortBy(_._3) == BinsAbi.decodeBins(result1).map {
          case (b, rx, ry, sh, tot) => ("0xU1", "0xP1", b, rx, ry, sh, tot)
        })
        // a reordered subset with the quarantine column: null on good rows
        val sub = df.select($"shares", $"_corrupt_record", $"binId")
          .as[(java.math.BigDecimal, String, Long)].collect().sortBy(_._3).toSeq
        assert(sub == bins1.map { case (b, _, _, sh, _) => (new java.math.BigDecimal(sh), null, b) })
      } finally RpcTransport.clearOverride()
    }

    it("quarantines a bin whose reserve overflows decimal(38,0) as its JSON line") {
      val huge = BigInteger.TWO.pow(200)
      val result = BinsAbi.encodeResult(7L, Seq(
        (7L, huge, BigInteger.ONE, BigInteger.ONE, BigInteger.TEN)) ++ bins1)
      RpcTransport.setOverride(cannedNode(
        scala.collection.mutable.Buffer.empty[String], _ => result))
      try {
        val schema = StructType(graft.model.Schemas.binReserves.fields :+
          StructField("_corrupt_record", StringType))
        val df = spark.read.format("graft.sources.RpcBinsSource").schema(schema)
          .option("endpoint", "https://node/rpc").option("contract", "0xC")
          .option("tasks", "0xP1,0xU1,1,1,1").option("mode", "PERMISSIVE").load()
        // an unfiltered read of every column: a pushed filter would drop
        // the bin, and pruning reserveX would skip it, before conversion
        val (bad, good) = df.collect().map(_.getAs[String]("_corrupt_record"))
          .toSeq.partition(_ != null)
        assert(bad == Seq(s"""{"user_address":"0xU1","poolAddress":"0xP1","binId":7,"reserveX":$huge,"reserveY":1,"shares":1,"totalShares":10}"""))
        assert(good.length == bins1.length)
      } finally RpcTransport.clearOverride()
    }

    it("drops rows failing a pushed filter inside the reader in FAILFAST (no Spark re-check)") {
      RpcTransport.setOverride(cannedNode(
        scala.collection.mutable.Buffer.empty[String], _ => result1))
      try {
        val reader = new graft.sources.RpcBinsReader(
          Seq(RpcBinsTask("0xP1", "0xU1", 1L, 1L, 1L)), "https://node/rpc", "0xC",
          graft.model.Schemas.binReserves,
          Array(org.apache.spark.sql.sources.EqualTo("binId", 8388607L)), "FAILFAST")
        val ids = Iterator.continually(reader.next()).takeWhile(identity)
          .map(_ => reader.get().getLong(2)).toList
        assert(ids == List(8388607L))
      } finally RpcTransport.clearOverride()
    }
  }
}
