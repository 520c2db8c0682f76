package graft

import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

/** Registry-wide lints — the contract between `SparkEntry.queries` and
  * the driver's DuckDB comparator.
  *
  * The comparator sorts result ROWS on every column (pandas
  * sort_values) before hashing; array/struct/binary cells make that
  * sort throw (`unhashable type: numpy.ndarray`), which in round 2
  * silently turned five CORRECT queries into err rows. The lint makes
  * that class of failure a compile-adjacent local red.
  */
class RegistrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every registry query has a flat (sortable) output schema") {
    val offending = TestSession.registry(sfDir).toSeq.flatMap { case (name, df) =>
      val bad = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[StructType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType == BinaryType => s"$name.${f.name}: ${f.dataType.sql}"
      }
      bad
    }
    assert(offending.isEmpty,
      s"array/struct/map/binary final columns crash the driver comparator: ${offending.mkString(", ")}")
  }

  test("every registry query emits only comparator-portable types " +
    "(the q71 lock-in: the driver's hash is TYPE-strict per cell)") {
    // exactly the kinds proven green through the type-strict DuckDB
    // gate: strings, booleans, exact int64/int32, float64, timestamps.
    // Everything else has bitten or would: FLOAT is a float32-vs-64
    // kind mismatch, DECIMAL lands as pandas object, DATE must emit as
    // a yyyy-MM-dd string (engine date dtypes differ), BYTE/SHORT are
    // narrow kinds DuckDB never produces. A query needing one of these
    // casts at the final projection — the convention the comparator
    // audit enforces remotely, made a local red here.
    import org.apache.spark.sql.types._
    val allowed: Set[DataType] = Set(StringType, BooleanType, LongType,
      IntegerType, DoubleType, TimestampType,
      TimestampNTZType) // q46 reads through a SQL view; both tz kinds
                        // land as pandas datetime64 and are gate-green
    val offending = TestSession.registry(sfDir).toSeq.flatMap { case (name, df) =>
      df.schema.fields.collect {
        case f if !allowed.contains(f.dataType) =>
          s"$name.${f.name}: ${f.dataType.sql}"
      }
    }
    assert(offending.isEmpty,
      s"non-portable final column types: ${offending.mkString(", ")}")
  }

  test("every registry query has an oracle entry (no grey rows)") {
    val missing = Queries.all.keySet -- Oracle.sql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val stale = Oracle.sql.keySet -- Queries.all.keySet
    assert(stale.isEmpty, s"oracle SQL without a query: $stale")
  }
}
