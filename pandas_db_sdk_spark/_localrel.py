"""LocalRelation builder for small driver-built row lists.

``spark.createDataFrame(rows, schema)`` on a plain Python list goes through
``sc.parallelize(rows)``: the rows are pickled into ``defaultParallelism``
partitions and EVERY downstream evaluation of the frame launches that many
Python-worker tasks just to unpickle a handful of rows.  Iterative operators
that return driver-built result tables (BPE merge tables, GD weight traces,
graph fixpoint outputs, report frames) pay that cost once per plan branch
that scans them — measured at 0.4–1.0 s per scan on local[32] for a
60-row table, times four branches in a report union (guide §4: eliminate
the JVM↔Python boundary).

``local_rows_df`` builds the same frame through the Arrow fast path
instead, which lands as a ``LocalRelation`` (``LocalTableScan`` in the
physical plan): rows live in the JVM, scans launch no Python workers, and
the relation carries exact size statistics, so broadcast planning sees the
true (tiny) size instead of an unknown-RDD estimate.  Rows must be plain
scalars / lists (the only shapes our call sites produce); anything the
Arrow converter rejects falls back to the classic path unchanged.

NaN caveat (why the pre-scan below exists): the Arrow conversion treats
float NaN like NULL, while the pickled path keeps it a NaN value.  The
converted call sites build their doubles from finite Python arithmetic,
but divergent numeric paths (gradient-descent weight traces, distance
scores) CAN legitimately produce NaN — those rows take the classic path
so the value survives (ADVICE r14: enforce the caveat in code, not by
call-site convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _has_nan(data) -> bool:
    """True when any cell (scalar or one level of list/tuple — the only
    shapes our call sites produce) is a float NaN, which the Arrow
    LocalRelation path would silently turn into NULL."""
    for r in data:
        for v in r:
            if isinstance(v, float):
                if v != v:
                    return True
            elif isinstance(v, (list, tuple)):
                for x in v:
                    if isinstance(x, float) and x != x:
                        return True
    return False


def local_rows_df(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """Build a DataFrame from a small driver-side ``rows`` list as a JVM
    ``LocalRelation`` (Arrow path; no Python-worker scan tasks), falling
    back to ``spark.createDataFrame(rows, schema)`` when conversion is
    not possible or would change values (float NaN)."""
    try:
        import pandas as pd

        parsed = (
            StructType.fromDDL(schema) if isinstance(schema, str) else schema
        )
        names = [f.name for f in parsed.fields]
        data = [tuple(r) for r in rows]
        if _has_nan(data):
            raise ValueError("float NaN would become NULL on the Arrow path")
        if not data:
            # zero rows would bypass the Arrow path (Scan ExistingRDD over
            # an empty pickled RDD — still one task per core slot to
            # evaluate); an all-NULL dummy row + limit(0) constant-folds
            # to an empty LocalRelation instead
            dummy = local_rows_df(spark, [tuple([None] * len(names))], parsed)
            return dummy.limit(0)
        # object dtype keeps ints exact and None as None; the Arrow
        # converter casts each column to the declared field type.
        # (columns= alone mislabels an empty frame's dtypes, so build
        # per-column object Series explicitly.)
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in data], dtype=object)
                for i, n in enumerate(names)
            },
            columns=names,
        )
        out = spark.createDataFrame(pdf, schema=parsed)
        # the Arrow path lands as LocalRelation only when the session
        # config allows it; a silent non-Arrow fallback inside
        # createDataFrame(pandas) would run rows through NumPy dtype
        # coercion we have not audited — detect and use the classic
        # list path instead
        if "LocalTableScan" not in out._jdf.queryExecution().executedPlan().toString():
            raise ValueError("arrow local-relation path unavailable")
        return out
    except Exception:
        return spark.createDataFrame(rows, schema)


def sql_ident(name: str) -> str:
    """A backtick-quoted Spark SQL identifier for ARBITRARY ``name``:
    embedded backticks are doubled, so a column name containing `` ` ``
    parses as itself instead of erroring or injecting expression text
    (ADVICE r14 — the F.col path these interpolations replaced handled
    arbitrary names)."""
    return "`" + str(name).replace("`", "``") + "`"


def require_unicode_literals(spark: SparkSession) -> None:
    """Fail loudly when ``spark.sql.parser.escapedStringLiterals`` is true
    (the legacy parser mode): :func:`sql_literal` writes every code unit
    as a ``\\uXXXX`` escape, which that mode parses as RAW backslash text
    — wrong merge rules / labels with no error (ADVICE r14).  Call sites
    that hand ``sql_literal`` output to ``F.expr``/``selectExpr`` invoke
    this first. The conf is runtime-settable, so it is read on every call
    (one py4j conf read), never cached."""
    try:
        v = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    except Exception:
        v = "false"
    if str(v).lower() == "true":
        raise ValueError(
            "spark.sql.parser.escapedStringLiterals=true (legacy parser "
            "mode) silently mis-parses the \\uXXXX string literals this "
            "engine builds; unset it or set it to false"
        )


def sql_literal(s: str) -> str:
    """A Spark SQL string literal for ARBITRARY ``s``: every UTF-16 code
    unit is written as a ``\\uXXXX`` escape, so quotes, backslashes,
    control characters and astral-plane symbols (surrogate pairs) all
    round-trip without any quoting rules to get wrong.  Exists so the
    iterative BPE loop can hand each round's rewrite to ``F.expr`` as ONE
    server-side parse instead of hundreds of py4j Column calls (guide §1.2
    step 2 — the loop's per-round cost is driver-side, not cluster-side)."""
    units: list[int] = []
    for ch in s:
        o = ord(ch)
        if o > 0xFFFF:
            o -= 0x10000
            units.append(0xD800 + (o >> 10))
            units.append(0xDC00 + (o & 0x3FF))
        else:
            units.append(o)
    return "'" + "".join("\\u%04X" % u for u in units) + "'"
