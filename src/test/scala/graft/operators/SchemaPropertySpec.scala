package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.types._

/** Property-based schema-inference tests (SURVEY §5 item 2): arbitrary
  * JSON documents → inferred schema obeys the reference policy invariants
  * and values round-trip through parse modulo the declared divergences
  * (all numbers → double). */
class SchemaPropertySpec extends SparkSpec {

  /** Deterministic sampling of a generator (fixed seeds → reproducible). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  import spark.implicits._

  private val key: Gen[String] = Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  private def scalar: Gen[String] = Gen.oneOf(
    Gen.choose(-1000, 1000).map(_.toString),
    Gen.choose(-100.0, 100.0).map(d => f"$d%.3f"),
    Gen.oneOf("true", "false"),
    Gen.alphaNumStr.map(s => "\"" + s.take(10) + "\""),
    Gen.const("null"))

  private def jsonValue(depth: Int): Gen[String] =
    if (depth <= 0) scalar
    else Gen.frequency(
      5 -> scalar,
      2 -> Gen.choose(0, 3).flatMap(n =>
        Gen.listOfN(n, jsonValue(depth - 1)).map(_.mkString("[", ",", "]"))),
      2 -> jsonObject(depth - 1))

  private def jsonObject(depth: Int): Gen[String] =
    Gen.choose(1, 4).flatMap { n =>
      Gen.listOfN(n, key).flatMap { ks =>
        Gen.sequence[List[String], String](
          ks.distinct.map(k => jsonValue(depth).map(v => "\"" + k + "\":" + v)))
          .map(_.mkString("{", ",", "}"))
      }
    }

  private def noForbiddenTypes(dt: DataType): Boolean = dt match {
    case NullType => false
    case s: StructType => s.fields.nonEmpty && s.fields.forall(f => noForbiddenTypes(f.dataType))
    case a: ArrayType => noForbiddenTypes(a.elementType)
    case ByteType | ShortType | IntegerType | LongType => false // widened to double
    case _ => true
  }

  test("property: inferred schemas have no NullType, no empty structs, no integral types") {
    samples(Gen.listOfN(3, jsonObject(2)), 15).foreach { docs =>
      val schema = SchemaPolicy.inferSchema(spark, docs.toDS())
      assert(schema.fields.forall(f => noForbiddenTypes(f.dataType)), s"$docs -> $schema")
    }
  }

  test("property: parseColumn materializes every generated document") {
    samples(Gen.listOfN(2, jsonObject(1)), 10).foreach { docs =>
      val df = docs.toDF("payload")
      val parsed = SchemaPolicy.parseColumn(spark, df, "payload", "p")
      val schema = parsed.schema("p").dataType.asInstanceOf[StructType]
      if (schema.fields.nonEmpty) {
        assert(parsed.select("p.*").count() == docs.size)
      }
    }
  }

  /** A document of the keyed-inference property: mostly generated
    * objects, plus the cases the merge and the policy must agree on. */
  private val keyedDoc: Gen[String] = Gen.frequency(
    6 -> jsonObject(2),
    2 -> Gen.oneOf("""{"v":1,"w":[1,2]}""", """{"v":"x","w":["a"]}""", """{"v":2.5}"""),
    1 -> Gen.oneOf("""{"z":null}""", """{"o":{},"a":[]}""", """{"o":{"p":null},"a":[{}]}"""),
    1 -> Gen.oneOf("""not json {{""", """{"a":""", "42", "[]", """[{"v":true}]"""))

  test("property: inferByKey equals spark.read.json run per key") {
    samples(Gen.listOfN(14, Gen.zip(Gen.oneOf("k1", "k2", "k3"), keyedDoc)), 10).foreach { rows =>
      val df = rows.toDF("k", "doc").repartition(3)
      Seq(false, true).foreach { numerics =>
        val got = SchemaPolicy.inferByKey(df, Seq("k"), "doc", referenceNumerics = numerics)
        val want = rows.groupBy(_._1).map { case (k, rs) =>
          val read = spark.read.option("dropFieldIfAllNull", true).json(rs.map(_._2).toDS()).schema
          val cleaned = SchemaPolicy.clean(read).getOrElse(StructType(Nil))
          Seq(k) -> (if (numerics) SchemaPolicy.widenIntegrals(cleaned) else cleaned)
        }
        assert(got == want, rows.mkString("\n"))
      }
    }
  }
}
