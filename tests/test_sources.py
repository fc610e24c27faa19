"""Sources: canonical JSON store round-trip and probe_per_group."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from printer_etl_hub_spark.sources.json_store import (
    load_printers_json,
    save_printers_json,
)

FLEET = {
    "Company_Grouped": [
        {"ID": "1", "Floor": "2", "Printer IP": "10.0.0.1", "Type": "M402dn",
         "Serial": "AA1", "Comment": None},
        {"ID": "2", "Floor": "3", "Printer IP": "0.0.0.0", "Type": "M426fdw",
         "Serial": "AA2", "Comment": "שבור"},
    ],
    "Branches_Grouped": [
        {"ID": "101", "Name": "סניף מרכז", "Printer IP": "10.1.0.1",
         "BO IP": "10.1.0.254", "Type": "E60055", "Serial": "BB1", "Comment": None},
    ],
}


def test_json_store_roundtrip(spark, tmp_path):
    path = str(tmp_path / "printers.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(FLEET, f, ensure_ascii=False)

    df = load_printers_json(spark, path)
    assert df.count() == 3
    assert set(df.select("group").distinct().toPandas()["group"]) == {
        "Company_Grouped", "Branches_Grouped",
    }
    # seq preserves input order within each group
    company = df.filter(F.col("group") == "Company_Grouped").orderBy("seq").collect()
    assert [r["ID"] for r in company] == ["1", "2"]
    # Hebrew survives the round trip
    out_path = str(tmp_path / "out.json")
    save_printers_json(df, out_path)
    data = json.load(open(out_path, encoding="utf-8"))
    assert data["Branches_Grouped"][0]["Name"] == "סניף מרכז"
    assert data["Company_Grouped"][1]["Comment"] == "שבור"


GRID_HTML = """
<div class="x-grid3">
 <div class="x-grid3-header"><div class="x-grid3-row">
   <div class="x-grid3-cell-inner">Description</div>
   <div class="x-grid3-cell-inner">Status Code</div>
 </div></div>
 <div class="x-grid3-body">
  <div class="x-grid3-row">
    <img src="warn.png" alt="Warning"/>
    <div class="x-grid3-cell-inner">C4-1234: Cartridge low on toner</div>
    <div class="x-grid3-cell-inner">C4-1234</div>
  </div>
  <div class="x-grid3-row">
    <div class="x-grid3-cell-inner">Paper jam in tray two assembly</div>
    <div class="x-grid3-cell-inner">critical</div>
  </div>
  <div class="x-grid3-row">
    <div class="x-grid3-cell-inner">Paper jam in tray two assembly</div>
    <div class="x-grid3-cell-inner">critical</div>
  </div>
 </div>
</div>
"""

TR_HTML = """
<table>
 <tr><td>Description</td><td>Status Code</td></tr>
 <tr><td>E2-404 : Fuser unit needs replacement soon</td><td>warning</td></tr>
 <tr><td><b>Door open</b> on left side</td><td>critical</td></tr>
</table>
"""


def test_parse_alert_html_grid_and_tr():
    """F29 reference semantics (`adapters/ews_alerts.py:81-116`): longest
    cell = description, code split off its head, img-alt severity beats the
    shortest-cell pick, header rows skipped, order-preserving dedup."""
    from printer_etl_hub_spark.sources.html_alerts import parse_alert_html

    grid = parse_alert_html(GRID_HTML)
    assert grid == [
        {"severity": "Warning", "status_code": "C4-1234",
         "description": "Cartridge low on toner"},
        {"severity": "critical", "status_code": "",
         "description": "Paper jam in tray two assembly"},
    ]
    tr = parse_alert_html(TR_HTML)
    assert tr == [
        {"severity": "warning", "status_code": "E2-404",
         "description": "Fuser unit needs replacement soon"},
        {"severity": "critical", "status_code": "",
         "description": "Door open on left side"},
    ]
    assert parse_alert_html("") == []
    assert parse_alert_html("<p>no tables here</p>") == []


def test_shred_alert_html_feeds_argmax(spark):
    """F29 mapInPandas stage → A3 argmax: per device, the top alert by
    (severity rank, has_code, earliest appearance)."""
    from pyspark.sql import functions as F

    from printer_etl_hub_spark.functions.extract import severity_rank
    from printer_etl_hub_spark.operators.argmax import argmax_per_group
    from printer_etl_hub_spark.sources.html_alerts import shred_alert_html

    pages = spark.createDataFrame(
        [("10.0.0.1", GRID_HTML), ("10.0.0.2", TR_HTML), ("10.0.0.3", None)],
        "ip string, html string",
    )
    alerts = shred_alert_html(pages, "ip", "html")
    assert alerts.count() == 4  # 2 per page, dedup'd, empty page emits none
    best = argmax_per_group(
        alerts,
        ["ip"],
        F.struct(
            severity_rank(F.col("severity")),
            (F.col("status_code") != "").cast("int"),
            -F.col("row_idx"),
        ),
        {"problem": F.col("description"), "severity": F.col("severity")},
    )
    got = {r.ip: (r.problem, r.severity) for r in best.collect()}
    assert got["10.0.0.1"] == ("Paper jam in tray two assembly", "critical")
    assert got["10.0.0.2"] == ("Door open on left side", "critical")
    assert "10.0.0.3" not in got


def test_json_export_serializer_rules(spark, tmp_path):
    """F35 (`core/excel/import_from_xlsm.py:30-49`): timestamp columns
    export as ISO strings, NaN floats become null (dropped with the other
    nulls), and the document round-trips."""
    import datetime
    import json as _json

    from printer_etl_hub_spark.sources.json_store import save_printers_json

    df = spark.createDataFrame(
        [
            ("Company_Grouped", 0, "1",
             datetime.datetime(2026, 8, 13, 9, 30, 0), 1.5),
            ("Company_Grouped", 1, "2",
             None, float("nan")),
        ],
        "group string, seq long, ID string, seen timestamp, score double",
    )
    out = tmp_path / "printers.json"
    save_printers_json(df, str(out))
    doc = _json.loads(out.read_text(encoding="utf-8"))
    rows = doc["Company_Grouped"]
    assert rows[0]["seen"] == "2026-08-13T09:30:00"
    assert rows[0]["score"] == 1.5
    # NaN → null → dropped like every other null (reference drops Nones)
    assert "seen" not in rows[1] and "score" not in rows[1]


def test_json_serializer_scalar_rules():
    import datetime
    import math

    import numpy as np

    from printer_etl_hub_spark.sources.json_store import json_serializer

    assert json_serializer(datetime.date(2026, 1, 2)) == "2026-01-02"
    assert json_serializer(np.int64(7)) == 7
    assert json_serializer(np.float64(2.5)) == 2.5
    assert json_serializer(np.float64(math.nan)) is None
    assert json_serializer(np.bool_(True)) is True
    assert json_serializer(object()).startswith("<object")


BROTHER_COLOR_HTML = """
<html><body>
<table id="inkLevel" class="tonerremain">
 <tbody>
  <tr><th colspan="4">Toner remaining</th></tr>
  <tr>
    <td class="bar"><img src="bar.gif" height="28" width="10"></td>
    <td class="bar"><img src="bar.gif" style="height: 55px; width:10px"></td>
    <td class="bar" height="110"></td>
    <td class="bar" style="height:7px"></td>
  </tr>
  <tr><th>BK</th><th>C</th><th>M</th><th>*Y*</th></tr>
 </tbody>
</table>
</body></html>
"""

BROTHER_MONO_HTML = """
<table id="inkLevelMono">
 <tr><th>Toner</th></tr>
 <tr><td><img src="bar.gif" height="42px"></td></tr>
 <tr><th>Black</th></tr>
</table>
"""


def test_parse_brother_toner_html():
    """S10 reference semantics (`adapters/brother_toner_web.py:38-95`):
    bar height from img height attr / img style / td height / td style in
    that order, labels F17-normalized and zipped positionally, heights
    clamped to [0,100] and rendered "NN%"."""
    from printer_etl_hub_spark.sources.html_alerts import parse_brother_toner_html

    carts = parse_brother_toner_html(BROTHER_COLOR_HTML)
    assert carts == [
        {"cartridge": "Black", "remaining_percent": "28%"},
        {"cartridge": "Cyan", "remaining_percent": "55%"},
        {"cartridge": "Magenta", "remaining_percent": "100%"},  # 110 clamped
        {"cartridge": "Yellow", "remaining_percent": "7%"},
    ]
    mono = parse_brother_toner_html(BROTHER_MONO_HTML)
    assert mono == [{"cartridge": "Black", "remaining_percent": "42%"}]
    # No level table / malformed table (<3 rows) / empty page → [].
    assert parse_brother_toner_html("<table id='other'><tr></tr></table>") == []
    assert parse_brother_toner_html(
        "<table id='inkLevel'><tr><td></td></tr></table>"
    ) == []
    assert parse_brother_toner_html("") == []
    # Missing img and no td height → None percent, label still reported.
    no_img = parse_brother_toner_html(
        "<table id='inkLevel'><tr><th>t</th></tr>"
        "<tr><td class='bar'></td></tr><tr><th>BK</th></tr></table>"
    )
    assert no_img == [{"cartridge": "Black", "remaining_percent": None}]
    # #inkLevel preferred over #inkLevelMono regardless of document order.
    both = BROTHER_MONO_HTML + BROTHER_COLOR_HTML
    assert len(parse_brother_toner_html(both)) == 4


def test_brother_toner_cartridges_feeds_fleet(spark):
    """S10 end-to-end: Brother pages → (ip, cartridges) with the exact
    shape `fleet_toner_report`'s A7 slot-fill consumes; a page with no
    level table keeps its device row with an empty array."""
    from printer_etl_hub_spark.sources.html_alerts import brother_toner_cartridges

    pages = spark.createDataFrame(
        [
            ("10.0.0.1", BROTHER_COLOR_HTML),
            ("10.0.0.2", BROTHER_MONO_HTML),
            ("10.0.0.3", "<p>login page</p>"),
        ],
        "ip string, html string",
    )
    out = brother_toner_cartridges(pages)
    assert [f.name for f in out.schema["cartridges"].dataType.elementType.fields] == [
        "cartridge",
        "remaining_percent",
    ]
    got = {r.ip: [(c.cartridge, c.remaining_percent) for c in r.cartridges]
           for r in out.collect()}
    assert got["10.0.0.1"] == [
        ("Black", "28%"), ("Cyan", "55%"), ("Magenta", "100%"), ("Yellow", "7%"),
    ]
    assert got["10.0.0.2"] == [("Black", "42%")]
    assert got["10.0.0.3"] == []


def test_parse_brother_toner_html_review_hardening():
    """Round-4 review fixes: exact-id table match (no #inkLevelSettings
    shadowing), data-height must not shadow height, and the documented
    reference-exact filter-then-zip pairing for spacer labels."""
    from printer_etl_hub_spark.sources.html_alerts import parse_brother_toner_html

    # An unrelated table whose id merely STARTS with inkLevel is ignored.
    shadow = (
        "<table id='inkLevelSettings'><tr><th>x</th></tr>"
        "<tr><td><img height='99'></td></tr><tr><th>BK</th></tr></table>"
    )
    assert parse_brother_toner_html(shadow) == []
    # ...and it must not shadow a real #inkLevel appearing after it.
    real = (
        "<table id='inkLevel'><tr><th>t</th></tr>"
        "<tr><td><img height='42'></td></tr><tr><th>BK</th></tr></table>"
    )
    assert parse_brother_toner_html(shadow + real) == [
        {"cartridge": "Black", "remaining_percent": "42%"}
    ]
    # data-height must not be read as the height attribute.
    data_attr = (
        "<table id='inkLevel'><tr><th>t</th></tr>"
        "<tr><td><img src='x' data-height='5' height='42'></td></tr>"
        "<tr><th>BK</th></tr></table>"
    )
    assert parse_brother_toner_html(data_attr) == [
        {"cartridge": "Black", "remaining_percent": "42%"}
    ]
    # Reference-exact quirk: a non-alphabetic spacer <th> is filtered
    # BEFORE the zip, shifting the label/height pairing by one column —
    # `adapters/brother_toner_web.py:90-92` behaves identically.
    spacer = (
        "<table id='inkLevel'><tr><th>t</th></tr>"
        "<tr><td><img height='10'></td><td><img height='20'></td>"
        "<td><img height='30'></td></tr>"
        "<tr><th>&#160;</th><th>BK</th><th>C</th></tr></table>"
    )
    assert parse_brother_toner_html(spacer) == [
        {"cartridge": "Black", "remaining_percent": "10%"},
        {"cartridge": "Cyan", "remaining_percent": "20%"},
    ]


def test_corpus_write_read_roundtrip_and_pruning(spark, tmp_path):
    """q81's cleaned corpus → hive-partitioned parquet → re-read: values
    survive the roundtrip exactly, a language filter prunes to the one
    directory at PLAN time, and each partition dir holds the requested
    file count (no small-files explosion)."""
    import os

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.sources.corpus_io import read_corpus, write_corpus

    out = REGISTRY["q81_corpus_prep"].fn(spark, "/root/testdata/sf0.001")
    want = sorted(map(tuple, out.collect()))
    path = str(tmp_path / "corpus")
    write_corpus(out, path, partition_by=("pred_lang",))

    back = read_corpus(spark, path)
    cols = out.columns  # partition col moves last on read; realign
    got = sorted(map(tuple, back.select(*cols).collect()))
    assert got == want

    langs = [d for d in os.listdir(path) if d.startswith("pred_lang=")]
    assert len(langs) >= 1  # q81's lang gate keeps only en at smoke scale
    for d in langs:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # one task per partition value

    pruned = back.filter(F.col("pred_lang") == "en")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "pred_lang" in plan.split("PartitionFilters")[1][:200], plan[:3000]


def test_corpus_io_orc_and_json_roundtrip(spark, tmp_path):
    """Multi-format corpus materialization: the same hive-partitioned
    layout round-trips through orc and json (values exact, partition
    pruning still plan-visible on orc), and an unsupported format (avro
    needs the external jar this container lacks) raises explicitly
    instead of failing deep inside a Spark job."""
    import pytest

    from printer_etl_hub_spark.plans import REGISTRY
    from printer_etl_hub_spark.sources.corpus_io import read_corpus, write_corpus

    out = REGISTRY["q81_corpus_prep"].fn(spark, "/root/testdata/sf0.001")
    cols = out.columns
    want = sorted(map(tuple, out.collect()))

    for fmt in ("orc", "json"):
        path = str(tmp_path / f"corpus_{fmt}")
        write_corpus(out, path, partition_by=("pred_lang",), fmt=fmt)
        back = read_corpus(spark, path, fmt=fmt)
        got = sorted(map(tuple, back.select(*cols).collect()))
        assert got == want, fmt

    orc_back = read_corpus(spark, str(tmp_path / "corpus_orc"), fmt="orc")
    plan = orc_back.filter(F.col("pred_lang") == "en")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan

    with pytest.raises(ValueError, match="avro"):
        write_corpus(out, str(tmp_path / "nope"), fmt="avro")
