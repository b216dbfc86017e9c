package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types._

class SchemaPolicySpec extends SparkSpec {
  import spark.implicits._

  private def infer(docs: String*): StructType =
    SchemaPolicy.inferSchema(spark, docs.toDS())

  test("A9: flat scalars map to string/double/boolean (reference type map)") {
    val s = infer("""{"s":"x","n":1.5,"b":true}""")
    assert(s("s").dataType == StringType)
    assert(s("n").dataType == DoubleType)
    assert(s("b").dataType == BooleanType)
  }

  test("A9: integer-looking numbers are DOUBLE (Go float64 semantics)") {
    assert(infer("""{"n":42}""")("n").dataType == DoubleType)
    // divergence policy is opt-out:
    val native = SchemaPolicy.inferSchema(spark, Seq("""{"n":42}""").toDS(),
      referenceNumerics = false)
    assert(native("n").dataType == LongType)
  }

  test("A9: null fields dropped from schema") {
    val s = infer("""{"a":1,"b":null}""")
    assert(s.fieldNames.toSeq == Seq("a"))
  }

  test("A9: empty object and empty array dropped") {
    val s = infer("""{"a":1,"o":{},"arr":[]}""")
    assert(s.fieldNames.toSeq == Seq("a"))
  }

  test("A9: nested objects recurse to nested structs") {
    val s = infer("""{"properties":{"age":20,"geo":{"lat":1.0}}}""")
    val props = s("properties").dataType.asInstanceOf[StructType]
    assert(props("age").dataType == DoubleType)
    assert(props("geo").dataType.asInstanceOf[StructType]("lat").dataType == DoubleType)
  }

  test("A9: scalar arrays → array<double>; arrays of objects recurse") {
    val s = infer("""{"array":[1,2,3],"items":[{"k":"v"}]}""")
    assert(s("array").dataType == ArrayType(DoubleType, containsNull = true))
    val el = s("items").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(el("k").dataType == StringType)
  }

  test("A9: heterogeneous arrays take Spark's superset typing (declared divergence)") {
    val s = infer("""{"a":[1,"x"]}""")
    // Spark widens to string; the reference would mis-type from a[0] (double)
    assert(s("a").dataType == ArrayType(StringType, containsNull = true))
  }

  test("A9: parseColumn yields queryable nested columns") {
    val df = Seq("""{"stream_id":"s","name":"user1","properties":{"age":20}}""")
      .toDF("payload")
    val parsed = SchemaPolicy.parseColumn(spark, df, "payload", "p")
    val row = parsed.selectExpr("p.name", "p.properties.age").head()
    assert(row.getString(0) == "user1")
    assert(row.getDouble(1) == 20.0)
  }

  test("parseJson hands JsonToStructs the schema as a type; rows equal from_json's") {
    val df = Seq("""{"a":1.5,"b":{"c":"x"},"l":[1,2]}""", """{"a":2}""", "bad json")
      .toDF("payload")
    val schema = SchemaPolicy.inferColumn(spark, df, "payload")
    val parsed = df.select(SchemaPolicy.parseJson(col("payload"), schema).as("p"))
    val found = parsed.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
      case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j.schema
    }))
    assert(found == Seq(schema))
    assert(parsed.collect().toSeq ==
      df.select(from_json(col("payload"), schema).as("p")).collect().toSeq)
  }
}
