"""The one F7 quarantine kernel (multimodal/binary.per_record).

Every per-record decode operator (images, audio, video, dHash/pHash
bands, header metadata) is a row function run through ``per_record``:
a bad record becomes one row with an ``error`` string and never fails
the batch. These tests pin that contract on a small DataFrame, and a
tripwire keeps the copied batch loops and the removed ``spread_skew``
knob from growing back.
"""

from __future__ import annotations

import pathlib

from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from dataset_batch_processor_spark.multimodal.binary import per_record

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "dataset_batch_processor_spark"
)
SCHEMA = "id string, n int, sq int, tag string, error string"


def _src(spark, n: int = 6):
    return spark.createDataFrame(
        [(f"r{i}", i) for i in range(n)], "id string, n int"
    )


def _sorted(rows) -> list[tuple]:
    return sorted(rows, key=repr)  # repr: rows mix None and values


def _rows(df) -> list[tuple]:
    return _sorted(tuple(r) for r in df.collect())


def test_one_row_per_record(spark):
    def row(r) -> dict:
        return {"sq": r.n * r.n, "tag": f"t{r.n}"}

    df = per_record(_src(spark), SCHEMA, row,
                    head=lambda r: {"id": r.id, "n": int(r.n)})
    assert df.columns == ["id", "n", "sq", "tag", "error"]
    assert _rows(df) == [(f"r{i}", i, i * i, f"t{i}", None) for i in range(6)]


def test_many_rows_per_record_including_none(spark):
    """``many``: ``fn`` returns a list of dicts, possibly empty."""

    def rows(r) -> list[dict]:
        return [{"sq": k} for k in range(r.n % 3)]

    df = per_record(_src(spark), SCHEMA, rows, many=True)
    assert _rows(df) == _sorted(
        (f"r{i}", None, k, None, None) for i in range(6) for k in range(i % 3)
    )


def test_raise_gives_exactly_one_error_row(spark):
    """A raising ``fn`` yields the nulls, ``head`` and the error string
    ("<ExcType>: <message>"); a ``many`` record that raises after
    producing rows yields only that one error row."""

    def row(r) -> dict:
        if r.n % 2:
            raise ValueError(f"bad {r.n}")
        return {"sq": r.n * r.n, "tag": "ok"}

    def rows(r):
        yield {"sq": 1, "tag": "partial"}
        if r.n % 2:
            raise KeyError(r.n)
        yield {"sq": 2, "tag": "ok"}

    head = lambda r: {"id": r.id, "n": int(r.n)}  # noqa: E731
    one = per_record(_src(spark), SCHEMA, row, head=head)
    assert _rows(one) == _sorted(
        (f"r{i}", i, None, None, f"ValueError: bad {i}") if i % 2
        else (f"r{i}", i, i * i, "ok", None)
        for i in range(6)
    )
    many = per_record(_src(spark), SCHEMA, rows, head=head, many=True)
    assert _rows(many) == _sorted(
        [(f"r{i}", i, None, None, f"KeyError: {i}") for i in range(1, 6, 2)]
        + [(f"r{i}", i, s, t, None) for i in range(0, 6, 2)
           for s, t in ((1, "partial"), (2, "ok"))]
    )


def test_returned_error_row(spark):
    """A row function may quarantine without raising by returning an
    ``error`` value (build_images_meta's unsupported header)."""

    def row(r) -> dict:
        return {"error": "unsupported"} if r.n == 3 else {"sq": r.n}

    got = _rows(per_record(_src(spark), SCHEMA, row))
    assert got == _sorted(
        ("r3", None, None, None, "unsupported") if i == 3
        else (f"r{i}", None, i, None, None)
        for i in range(6)
    )


def test_columns_follow_schema_order(spark):
    """Dict order from ``head`` and ``fn`` does not matter: the output
    columns are the schema's, for a StructType as for a DDL string."""
    schema = StructType([
        StructField("tag", StringType()),
        StructField("sq", IntegerType()),
        StructField("id", StringType()),
        StructField("error", StringType()),
    ])

    def row(r) -> dict:
        return {"sq": r.n + 1, "tag": "x"}

    df = per_record(_src(spark, 2), schema, row)
    assert df.columns == ["tag", "sq", "id", "error"]
    assert _rows(df) == [("x", 1, "r0", None), ("x", 2, "r1", None)]
    ddl = per_record(_src(spark, 2), "tag string, sq int, id string, "
                     "error string", row)
    assert _rows(ddl) == _rows(df)


def test_per_record_operators_share_one_loop():
    """The error-string format and the itertuples batch loop live in
    per_record; metascrub (whose error rows keep ``had_gps``), the
    audit report and the raising qvideo/qpatch checksum loops keep
    their own. The ``spread_skew`` opt-out is gone."""
    src = {
        p.relative_to(PKG).as_posix(): p.read_text()
        for p in PKG.rglob("*.py")
    }

    def where(needle: str) -> set[str]:
        return {n for n, s in src.items() if needle in s}

    assert where("__name__}: {") == {
        "multimodal/binary.py",
        "multimodal/metascrub.py",
        "plans/audit.py",
    }
    assert where("pdf.itertuples(") == {
        "multimodal/binary.py",
        "multimodal/metascrub.py",
        "multimodal/qvideo.py",
        "multimodal/qpatch.py",
    }
    assert where("spread_skew") == set()
