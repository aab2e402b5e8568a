package graft

import graft.queries._

/** Driver-contract consistency: every query must carry an oracle, names
  * must be globally unique (the merged Map would silently shadow a
  * duplicate), and the naming convention must hold. Metadata-only except
  * the fixture-schema tripwire, which does one schema-only parquet read
  * per table, and the events-schema check. */
class ContractSpec extends SparkSpec {

  private val packs: Seq[(String, Map[String, _], Map[String, String])] = Seq(
    ("Relational", Relational.defs, Relational.oracles),
    ("EventOps", EventOps.defs, EventOps.oracles),
    ("TextAnalysis", TextAnalysis.defs, TextAnalysis.oracles),
    ("Dedup", Dedup.defs, Dedup.oracles),
    ("Similarity", Similarity.defs, Similarity.oracles),
    ("Media", Media.defs, Media.oracles),
    ("Trollflow", Trollflow.defs, Trollflow.oracles),
    ("TiledRaster", TiledRaster.defs, TiledRaster.oracles),
    ("Search", Search.defs, Search.oracles),
    ("Curation", Curation.defs, Curation.oracles)
  )

  test("every query has an oracle and vice versa, per pack") {
    packs.foreach { case (name, defs, oracles) =>
      assert(defs.keySet == oracles.keySet,
        s"$name: defs/oracles mismatch: " +
          s"missing oracles ${defs.keySet -- oracles.keySet}, " +
          s"orphan oracles ${oracles.keySet -- defs.keySet}")
    }
  }

  test("query names are globally unique across packs") {
    val all = packs.flatMap(_._2.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names across packs: $dups")
    assert(SparkEntry.queries.size == all.size,
      "merged map lost entries (shadowed key?)")
    assert(SparkEntry.oracleSql.size == all.size)
  }

  test("query names follow the qNN_slug convention") {
    SparkEntry.queries.keys.foreach { n =>
      assert(n.matches("q\\d+_[a-z0-9_]+"), s"bad query name: $n")
    }
  }

  test("oracle SQL is non-empty and single-statement") {
    SparkEntry.oracleSql.foreach { case (n, sql) =>
      assert(sql.trim.nonEmpty, s"$n: empty oracle")
      assert(!sql.contains(";"), s"$n: oracle must be a single statement")
    }
  }

  /** Fixture-drift tripwire: the driver has regenerated the fixtures
    * mid-build before (round 6 flipped `events.ts` from TIMESTAMP(NANOS)
    * to TIMESTAMP(MICROS), silently failing 18 queries and 22 tests with
    * cascading DATATYPE_MISMATCHes). This asserts, per table and per
    * column, the physical types [[graft.sources.Tables]] is coded to
    * accept — a drift fails HERE with the table and column named, not 22
    * analysis errors deep in query code. */
  test("fixture parquet schemas carry the types Tables expects") {
    import org.apache.spark.sql.types._
    val spark = SparkSpec.spark
    val dir = "/root/testdata/sf0.001"
    // acceptable physical types per column; events.ts lists every
    // encoding the schema-branch in Tables.events handles
    val expect: Seq[(String, Seq[(String, Set[DataType])])] = Seq(
      "region" -> Seq("r_regionkey" -> Set(IntegerType),
        "r_name" -> Set(StringType)),
      "nation" -> Seq("n_nationkey" -> Set(IntegerType),
        "n_name" -> Set(StringType), "n_regionkey" -> Set(IntegerType)),
      "customer" -> Seq("c_custkey" -> Set(LongType),
        "c_name" -> Set(StringType), "c_nationkey" -> Set(IntegerType),
        "c_acctbal" -> Set(DoubleType), "c_mktsegment" -> Set(StringType)),
      "supplier" -> Seq("s_suppkey" -> Set(LongType),
        "s_name" -> Set(StringType), "s_nationkey" -> Set(IntegerType),
        "s_acctbal" -> Set(DoubleType)),
      "part" -> Seq("p_partkey" -> Set(LongType),
        "p_name" -> Set(StringType), "p_brand" -> Set(StringType),
        "p_type" -> Set(StringType), "p_size" -> Set(IntegerType),
        "p_retailprice" -> Set(DoubleType)),
      "orders" -> Seq("o_orderkey" -> Set(LongType),
        "o_custkey" -> Set(LongType), "o_orderstatus" -> Set(StringType),
        "o_totalprice" -> Set(DoubleType),
        "o_orderdate" -> Set(TimestampType, TimestampNTZType),
        "o_orderpriority" -> Set(StringType)),
      "lineitem" -> Seq("l_orderkey" -> Set(LongType),
        "l_partkey" -> Set(LongType), "l_suppkey" -> Set(LongType),
        "l_linenumber" -> Set(IntegerType), "l_quantity" -> Set(DoubleType),
        "l_extendedprice" -> Set(DoubleType),
        "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
        "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
        "l_shipdate" -> Set(TimestampType, TimestampNTZType)),
      "events" -> Seq("event_id" -> Set(LongType),
        // the two encodings Tables.events' schema branch handles:
        // int64 TIMESTAMP(NANOS) under nanosAsLong, or TIMESTAMP(MICROS)
        // as NTZ/UTC-adjusted
        "ts" -> Set(LongType, TimestampType, TimestampNTZType),
        "user_id" -> Set(LongType), "event_type" -> Set(StringType),
        "value" -> Set(DoubleType), "props" -> Set(StringType)),
      "documents" -> Seq("doc_id" -> Set(LongType),
        "text" -> Set(StringType), "lang" -> Set(StringType),
        "source" -> Set(StringType), "n_chars" -> Set(LongType)),
      "embeddings" -> Seq("vec_id" -> Set(LongType),
        "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, false)),
        "label" -> Set(IntegerType))
    )
    val drifted = expect.flatMap { case (table, cols) =>
      val schema = spark.read.parquet(s"$dir/$table.parquet").schema
      cols.flatMap { case (name, ok) =>
        schema.find(_.name == name) match {
          case None =>
            Some(s"$table.$name: MISSING from fixture (has ${schema.fieldNames.mkString(",")})")
          case Some(f) if !ok.contains(f.dataType) =>
            Some(s"$table.$name: fixture has ${f.dataType.simpleString}, " +
              s"Tables expects one of ${ok.map(_.simpleString).mkString("/")}")
          case _ => None
        }
      }
    }
    assert(drifted.isEmpty,
      "fixture schema drift — update graft.sources.Tables to match:\n  " +
        drifted.mkString("\n  "))
  }

  test("events exposes ts_ns as Long and ts as Timestamp") {
    val ev = graft.sources.Tables.events(spark, sf).schema
    assert(ev("ts_ns").dataType == org.apache.spark.sql.types.LongType)
    assert(ev("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }
}
