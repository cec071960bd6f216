"""Declarative extraction schema + normalizer registry tests
(reference parity: extractor/rule_pipeline.py cascade + normalizer.py)."""

import datetime
import re

import pytest
from pyspark.sql import functions as F

from yomitoku_spark import extractor as EX
from yomitoku_spark.functions import normalize as N


def _vals(spark, fn, items):
    df = spark.createDataFrame([(x,) for x in items], "v string")
    return [r.o for r in df.select(fn(F.col("v")).alias("o")).collect()]


def test_date_iso_era_and_western(spark):
    got = _vals(
        spark,
        N.date_iso,
        [
            "令和5年3月2日",
            "令和元年5月1日",
            "平成31年4月30日",
            "昭和64年1月7日",
            "R5.3.2",
            "H8.12.31",
            "2023年3月2日",
            "2023/3/2",
            "２０２３年３月２日",
            "no date here",
            # reference-cascade order + tolerance cases (ADVICE r4):
            "令和5年3月2日(2023/4/1)",  # era pattern tried BEFORE western
            "令和 5 年 3 月 2 日",  # \s* between every component
            "令和5/3/2",  # kanji era takes ONLY the 年月日 form
            "2023年3月2",  # 年月日 form requires the trailing 日
            "R 5 / 3 . 2",  # initials: \s* + mixed /-. separators
            "2023.3.2",  # documented superset (last tier)
            "2023.3.2 vs 2024/1/1",  # ...which never outranks a ref tier
        ],
    )
    assert got == [
        "2023-03-02",
        "2019-05-01",
        "2019-04-30",
        "1989-01-07",
        "2023-03-02",
        "1996-12-31",
        "2023-03-02",
        "2023-03-02",
        "2023-03-02",
        "no date here",  # reference date_jp returns the input unchanged
        "2023-03-02",
        "2023-03-02",
        "令和5/3/2",
        "2023年3月2",
        "2023-03-02",
        "2023-03-02",
        "2024-01-01",
    ]


def test_z2h_and_digits(spark):
    assert _vals(spark, N.z2h, ["１２３ＡＢｃ　x"]) == ["123ABc x"]
    assert _vals(spark, N.digits, ["tel: 03-1234-5678"]) == ["0312345678"]


def test_phone_postal(spark):
    assert _vals(spark, N.phone, ["09012345678", "0312345678", "12345"]) == [
        "090-1234-5678",
        "031-234-5678",
        "12345",
    ]
    assert _vals(spark, N.postal, ["〒1234567", "12345"]) == ["123-4567", "12345"]


def test_kana_conversion(spark):
    assert _vals(spark, N.kata2hira, ["カタカナ"]) == ["かたかな"]
    assert _vals(spark, N.hira2kata, ["ひらがな"]) == ["ヒラガナ"]


def test_time_hms(spark):
    # reference time_hms: seconds appended, no-match passes through
    assert _vals(spark, N.time_hms, ["14時30分", "9:05", "none"]) == [
        "14:30:00",
        "09:05:00",
        "none",
    ]


@pytest.fixture(scope="module")
def turns(spark):
    rows = [
        ("c1", 0, "user",
         "Invoice No: INV-00１２３\nDue Date: 令和5年3月2日\nCustomer Name: 山田",
         "", datetime.datetime(2024, 1, 1)),
        ("c1", 1, "user",
         "some prose mentioning the number 2023年4月1日 inline somewhere",
         "", datetime.datetime(2024, 1, 1)),
        ("c1", 2, "user", "nothing relevant in this turn at all",
         "", datetime.datetime(2024, 1, 1)),
        ("c2", 0, "user",
         "| item | price |\n|---|---|\n| apple | 100 |\n| pear | 200 |",
         "", datetime.datetime(2024, 1, 1)),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_schema_cascade_kv_then_regex(spark, turns):
    schema = EX.ExtractionSchema.from_yaml(
        """
fields:
  - name: invoice_no
    keys: ["invoice no", "order id"]
    normalize: digits
  - name: issue_date
    keys: ["due date", "date"]
    regex: "\\\\d{4}年\\\\d{1,2}月\\\\d{1,2}日"
    normalize: date_iso
"""
    )
    got = {
        (r.conv_id, r.turn_idx): (r.invoice_no, r.issue_date)
        for r in EX.extract_fields(turns, schema).collect()
    }
    assert got[("c1", 0)] == ("00123", "2023-03-02")  # KV wins; NFKC'd digits
    assert got[("c1", 1)] == (None, "2023-04-01")  # regex fallback
    assert got[("c1", 2)] == (None, None)


def test_kv_items_and_cells(spark, turns):
    from yomitoku_spark.plans import pipeline

    blocks = pipeline.blocks(turns)
    kv = {(r.key, r.value) for r in EX.kv_items(blocks).collect()}
    assert ("Customer Name", "山田") in kv
    cells = EX.table_cells(blocks)
    got = {(r.row, r.col): r.text for r in cells.filter("conv_id = 'c2'").collect()}
    assert got[(0, 0)] == "item" and got[(0, 1)] == "price"
    assert got[(1, 0)] == "apple" and got[(2, 1)] == "200"


def test_unknown_normalizer_rejected():
    with pytest.raises(ValueError):
        EX.FieldSpec(name="x", normalize="nope")


_KEYED = [
    {"name": "invoice_no", "keys": ["invoice no", "order id"], "normalize": "digits"},
    {"name": "due", "keys": ["due date", "date"]},
    {"name": "customer", "keys": ["customer name"], "normalize": "collapse_ws"},
    {"name": "total", "keys": ["total", "amount"]},
    {"name": "status", "keys": ["status"]},
]


@pytest.mark.parametrize("n_keyed", [1, 5])
@pytest.mark.parametrize("with_regex", [False, True])
def test_extract_fields_kernel_count_is_schema_width_free(spark, turns, n_keyed, with_regex):
    # every keyed field shares one KV pick, so the executed plan runs the
    # block kernel once, plus once for emit's extracted_text when a field
    # has a regex fallback
    fields = _KEYED[:n_keyed]
    if with_regex:
        fields = fields + [{"name": "year", "regex": r"\d{4}"}]
    df = EX.extract_fields(turns, EX.ExtractionSchema.from_dict({"fields": fields}))
    got = {(r.conv_id, r.turn_idx): r.invoice_no for r in df.collect()}
    assert got[("c1", 0)] == "00123"
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == (2 if with_regex else 1), final


@pytest.mark.parametrize(
    "names",
    [["a", "a"], ["a", "conv_id"], ["turn_idx"], ["Total", "total"], ["Conv_ID"]],
    # Spark resolves column names case-insensitively: the last two
    # could not be written out (COLUMN_ALREADY_EXISTS)
    ids=["dup", "conv_id", "turn_idx", "dup_case", "conv_id_case"],
)
def test_clashing_field_names_rejected(names):
    # the message names the clashing field as written
    with pytest.raises(ValueError, match=re.escape(repr(names[-1]))):
        EX.ExtractionSchema.from_dict({"fields": [{"name": n, "keys": ["x"]} for n in names]})


def test_field_named_extracted_text_is_returned(spark, turns):
    schema = EX.ExtractionSchema.from_dict(
        {"fields": [{"name": "extracted_text", "keys": ["customer name"]}]}
    )
    df = EX.extract_fields(turns, schema)
    assert df.columns == ["conv_id", "turn_idx", "extracted_text"]
    got = {(r.conv_id, r.turn_idx): r.extracted_text for r in df.collect()}
    assert got[("c1", 0)] == "山田" and got[("c1", 1)] is None


def test_schema_files_read_as_utf8_under_c_locale(tmp_path):
    import os
    import subprocess
    import sys

    (tmp_path / "kv.yaml").write_text(
        'fields:\n  - name: total\n    keys: ["合計"]\n', encoding="utf-8")
    (tmp_path / "desc.yaml").write_text(
        'fields:\n  - name: total\n    description: "合計"\n', encoding="utf-8")
    code = (
        "import sys\n"
        "from yomitoku_spark.extractor import ExtractionSchema\n"
        "from yomitoku_spark.extractor_llm import LLMSchema\n"
        "from yomitoku_spark.semantic import load_schema\n"
        "d = sys.argv[1]\n"
        "assert ExtractionSchema.from_yaml(d + '/kv.yaml').fields[0].keys == ['\\u5408\\u8a08']\n"
        "assert load_schema(d + '/desc.yaml')[0].description == '\\u5408\\u8a08'\n"
        "assert LLMSchema.from_yaml(d + '/desc.yaml').fields[0].description == '\\u5408\\u8a08'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "LC_ALL": "C", "LANG": "C", "PYTHONCOERCECLOCALE": "0",
           "PYTHONUTF8": "0", "PYTHONPATH": root}
    proc = subprocess.run(
        [sys.executable, "-X", "utf8=0", "-c", code, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
