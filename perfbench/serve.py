"""The ``serve_http`` workload: the HTTP shell over a published map table
and a saved linear-regression model.

Set-up publishes the events-derived traffic features as the (Borough,
year)-partitioned map table, fits and saves the model, loads it into a
``PredictService`` and starts ``serving_http.serve``. Requests are a seeded
50/50 mix of ``GET /map?borough&year`` and ``POST /predict``, sent by at
most ``nproc`` client threads:

- an open-loop phase: Poisson arrivals at ``OPEN_RPS`` for
  ``OPEN_SECONDS``, each request timed from when it was due, so a stall
  also delays the requests queued behind it;
- a closed-loop phase for ``--seconds``: ``nproc`` clients, each sending
  its next request when the last returns.

The gated figures come from the closed loop: open-loop latency at a fixed
rate swings with the host's speed, because a slower host runs nearer its
capacity and queues more (30-35% run-to-run spread on a shared 4-vCPU VM,
against about 10% closed-loop). The open-loop figures are reported.

Afterwards every reply is checked: a /map page must carry one marker per
row of its slice (counted independently from the generated events), and
a /predict value must equal ``ml.pipelines.single_row_inference`` on the
same row. The served model's R² over the sf 0.01 tables, which it was not
fit on, must reach ``R2_FLOOR``.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import re
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import ExitStack
from unittest import mock
from urllib.parse import quote

from harness import Context, Result, pct, tree_cpu_s
from tracer import dur

BOROUGHS = ["Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island"]
# Fixed open-loop arrival rate: 35-45% of the closed-loop capacity of a
# 4-core host (3.5-4.5 requests/s on a shared 4-vCPU x86 VM, local[4]).
# Near capacity, queueing would turn small slowdowns of the host into
# large latency swings.
OPEN_RPS = 1.5
OPEN_SECONDS = 6.0
# pass_wall_s is the closed-loop time per this many requests
PASS_REQUESTS = 16
PREDICT_ROWS = 2  # distinct /predict bodies in the mix
# Least R² the served model must reach on held-out tables. The engine's
# own fit reaches 0.998-0.999 on every seed tried; a one-iteration L-BFGS
# fit reaches 0.84.
R2_FLOOR = 0.95
MAP_FIELDS = {"x_field": "longitude", "y_field": "latitude"}
_CIRCLE = re.compile(rb"<circle ")


def traffic_features(spark, data_dir: str):
    """Traffic-feature rows derived from ``events``, the same stand-in the
    serving tests use, plus a position so each row is a map marker."""
    from pyspark.sql import functions as F

    from nyc_traffic_insight_spark.sources import load_table

    ev = load_table(spark, data_dir, "events")
    borough = F.element_at(
        F.array(*[F.lit(b) for b in BOROUGHS]), (F.col("user_id") % 5 + 1).cast("int")
    )
    return ev.select(
        F.col("event_id").alias("RequestID"),
        "ts",
        (F.col("value") * 30).alias("Volume"),
        borough.alias("Borough"),
        (-74.25 + 0.47 * (F.col("event_id") * 7919 % 10007) / 10007.0).alias("longitude"),
        (40.49 + 0.40 * (F.col("event_id") * 104729 % 10009) / 10009.0).alias("latitude"),
    )


def slice_rows(data_dir: str) -> dict[tuple[str, int], int]:
    """Rows per (borough, year) slice, counted with DuckDB over the
    generated events, independently of the engine."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id % 5, year(ts), count(*) FROM read_parquet(?) GROUP BY ALL",
        [os.path.join(data_dir, "events.parquet")],
    ).fetchall()
    con.close()
    return {(BOROUGHS[b], y): n for b, y, n in rows}


def requests_mix(seed: int, n: int, years: list[int]) -> list[tuple[str, object]]:
    """``n`` seeded requests, alternating ("map", (borough, year)) and
    ("predict", row), so each route gets half of any window of them."""
    rng = random.Random(seed)
    rows = []
    for _ in range(PREDICT_ROWS):
        q = float(rng.randint(1, 50))
        price = round(900.0 + rng.randrange(1000) / 10.0, 1)
        rows.append(
            {
                "l_quantity": q,
                "l_discount": rng.randrange(11) / 100.0,
                "l_tax": rng.randrange(9) / 100.0,
                "p_retailprice": price,
                "qty_price": q * price,
                "mth": float(rng.randint(1, 12)),
                "wd": float(rng.randint(0, 6)),
            }
        )
    return [
        ("map", (rng.choice(BOROUGHS), rng.choice(years)))
        if i % 2 == 0
        else ("predict", rng.choice(rows))
        for i in range(n)
    ]


def send(port: int, kind: str, arg, rid: str) -> tuple[int, object]:
    """One request on a fresh connection; returns (status, value) where
    value is the marker count of a page or the prediction."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        hdr = {"X-Request-Id": rid}
        if kind == "map":
            borough, year = arg
            conn.request("GET", f"/map?borough={quote(borough)}&year={year}", headers=hdr)
        else:
            hdr["Content-Type"] = "application/json"
            conn.request("POST", "/predict", body=json.dumps(arg), headers=hdr)
        r = conn.getresponse()
        body = r.read()
    finally:
        conn.close()
    if r.status != 200:
        return r.status, None
    if kind == "map":
        return 200, len(_CIRCLE.findall(body))
    return 200, json.loads(body)["prediction"]


class Loadgen:
    def __init__(self, ctx: Context, port: int):
        self.ctx = ctx
        self.port = port
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count()

    def _do(self, kind: str, arg, due: float | None = None) -> None:
        rid = f"r{next(self._ids)}"
        rec = {"kind": kind, "arg": arg, "due": due, "send": time.perf_counter()}
        with self.ctx.tracer.span("loadgen.request", trace_id=rid, route=kind, due=due) as sp:
            try:
                rec["status"], rec["value"] = send(self.port, kind, arg, rid)
            except OSError as ex:
                rec["status"], rec["value"] = None, repr(ex)
        rec["done"] = sp["end"]
        with self._lock:
            self.records.append(rec)

    def open_loop(self, reqs, rate: float, seconds: float, seed: int) -> list[dict]:
        """Poisson arrivals at ``rate`` for ``seconds``; requests wait for a
        free client thread, and that wait counts in their latency."""
        rng = random.Random(seed)
        due, t = [], rng.expovariate(rate)
        while t < seconds:
            due.append(t)
            t += rng.expovariate(rate)
        self.records = []
        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            t0 = time.perf_counter()
            futs = []
            for (kind, arg), d in zip(itertools.cycle(reqs), due):
                time.sleep(max(0.0, t0 + d - time.perf_counter()))
                futs.append(pool.submit(self._do, kind, arg, t0 + d))
            for f in futs:
                f.result()
        return self.records

    def closed_loop(self, reqs, seconds: float = 0.0) -> tuple[float, list[dict]]:
        """``nproc`` clients sending ``reqs`` in turn, each its next request
        when the last returns, until all are sent and (cycling through
        ``reqs`` again) ``seconds`` have elapsed. Returns the wall."""
        self.records = []
        t0 = time.perf_counter()
        it = iter(reqs) if not seconds else itertools.cycle(reqs)
        lock = threading.Lock()

        def client() -> None:
            while seconds == 0.0 or time.perf_counter() - t0 < seconds:
                with lock:
                    nxt = next(it, None)
                if nxt is None:
                    return
                self._do(*nxt)

        with ThreadPoolExecutor(max_workers=self.ctx.cpus) as pool:
            for f in [pool.submit(client) for _ in range(self.ctx.cpus)]:
                f.result()
        return time.perf_counter() - t0, self.records


def _instrument(ctx: Context, stack: ExitStack) -> None:
    """Wrap the serving layer's public calls in spans (traced run only).
    Installed before ``serve`` is called: it binds ``map_view`` then."""
    from nyc_traffic_insight_spark import serving, serving_http

    tr = ctx.tracer
    H = serving_http.EngineHTTPServer

    def handler(route, orig):
        def do(self):
            rid = self.headers.get("X-Request-Id")
            with tr.span("http.request", group=True, trace_id=rid, route=route):
                orig(self)
        return do

    def map_view(*a, _orig=serving.map_view, **kw):
        with tr.span("serving.map_view"):
            df = _orig(*a, **kw)
            if tr.enabled:
                # plans once: the collect that follows reuses this plan
                with tr.span("plan.plan"):
                    df._jdf.queryExecution().executedPlan()
        return df

    def render(rows, *a, _orig=serving_http.render_map_html, **kw):
        with tr.span("serving_http.render", rows=len(rows)):
            return _orig(rows, *a, **kw)

    patches = [
        (H, "map_html", tr.wrap("serving_http.map_html", H.map_html)),
        (serving_http._Handler, "do_GET", handler("map", serving_http._Handler.do_GET)),
        (serving_http._Handler, "do_POST", handler("predict", serving_http._Handler.do_POST)),
        (serving_http, "render_map_html", render),
        (serving, "map_view", map_view),
        (serving.PredictService, "predict", tr.wrap("serving.predict", serving.PredictService.predict)),
    ]
    for obj, attr, new in patches:
        stack.enter_context(mock.patch.object(obj, attr, new))


def _latencies(records, kind=None, since="due") -> list[float]:
    return [1000 * (r["done"] - r[since]) for r in records if kind in (None, r["kind"])]


def _route_p50(records, since: str) -> float:
    """Mean of the two routes' median latencies. The routes' costs differ
    about 2x, so the median of the mixed sample would fall between the
    two modes and jump with the mix."""
    return (pct(_latencies(records, "map", since), 50) + pct(_latencies(records, "predict", since), 50)) / 2


def r2_on(spark, model, data_dir: str) -> float:
    """R² of ``model`` over the feature table of the tables in
    ``data_dir``."""
    from pyspark.ml.evaluation import RegressionEvaluator

    from nyc_traffic_insight_spark.ml.pipelines import LABEL, feature_table

    ev = RegressionEvaluator(labelCol=LABEL, predictionCol="prediction", metricName="r2")
    return ev.evaluate(model.transform(feature_table(spark, data_dir)))


def run(ctx: Context) -> Result:
    res = Result()
    map_path = os.path.join(ctx.work, "map_table")
    model_path = os.path.join(ctx.work, "lr_model")
    st: dict = {}

    def setup() -> None:
        # the engine is imported here, after the cold session set-up
        from nyc_traffic_insight_spark import serving_http
        from nyc_traffic_insight_spark.ml.pipelines import feature_table, fit_linear_regression
        from nyc_traffic_insight_spark.serving import PredictService, publish_map_table

        if ctx.trace:
            _instrument(ctx, stack)
        spark, tr = ctx.spark, ctx.tracer
        with tr.span("sources.write", group=True):
            publish_map_table(traffic_features(spark, ctx.data_dir), map_path)
        with tr.span("ml.fit", group=True):
            st["model"] = fit_linear_regression(feature_table(spark, ctx.train_dir))
        with tr.span("ml.save", group=True):
            st["model"].write().overwrite().save(model_path)
        svc = PredictService(spark, model_path)
        st["server"] = serving_http.serve(spark, map_path, svc, map_fields=MAP_FIELDS)

    expected = slice_rows(ctx.data_dir)
    years = sorted({y for _, y in expected})
    with ExitStack() as stack:
        t_setup = time.perf_counter()
        setup_s = ctx.setup(setup)
        srv = st["server"]
        res.report["setup_total_s"] = time.perf_counter() - t_setup
        try:
            lg = Loadgen(ctx, srv.server_address[1])
            reqs = requests_mix(ctx.seed, 64, years)
            # warm-up, untimed: every slice once, then a few predictions
            warm = [("map", (b, y)) for b in BOROUGHS for y in years]
            cold_s, cold = lg.closed_loop(warm + [r for r in reqs if r[0] == "predict"][:PREDICT_ROWS])
            checked = list(cold)
            opened = lg.open_loop(reqs, OPEN_RPS, OPEN_SECONDS, ctx.seed)
            checked += opened
            c0 = tree_cpu_s()
            closed_s, closed = lg.closed_loop(reqs, ctx.seconds)
            res.report["closed_loop_cpu_s"] = tree_cpu_s() - c0
            checked += closed
            per_request_s = closed_s / len(closed)
            if ctx.trace:
                ctx.tracer.enabled = True
                ctx.tracer.tags = {"pass": 0}
                traced_s, closed_t = lg.closed_loop(reqs[:PASS_REQUESTS])
                ctx.tracer.tags = {}
                opened_t = lg.open_loop(reqs, OPEN_RPS, OPEN_SECONDS, ctx.seed + 1)
                ctx.tracer.enabled = False
                checked += closed_t + opened_t
                res.overhead = traced_s / (PASS_REQUESTS * per_request_s)
            peak = ctx.peak_rss_mb()
        finally:
            srv.shutdown()
            srv.server_close()

        t_check = time.perf_counter()
        # output checks, untimed
        from nyc_traffic_insight_spark.ml.pipelines import single_row_inference

        # the model was fit on the train tables; these were not seen
        r2 = r2_on(ctx.spark, st["model"], ctx.data_dir)
        res.report["lr_r2"] = r2
        res.check("lr r2", r2 >= R2_FLOOR, f"R² {r2:.4f} on held-out tables, floor {R2_FLOOR}")
        rows = {json.dumps(r["arg"], sort_keys=True): r["arg"] for r in checked if r["kind"] == "predict"}
        with ThreadPoolExecutor(max_workers=ctx.cpus) as pool:
            refs = dict(zip(rows, pool.map(
                lambda row: single_row_inference(ctx.spark, st["model"], row), rows.values()
            )))
        for r in checked:
            ok = r["status"] == 200
            if ok and r["kind"] == "map":
                ok = r["value"] == expected.get(r["arg"], 0)
                detail = f"{r['arg']}: {r['value']} markers, want {expected.get(r['arg'], 0)}"
            elif ok:
                key = json.dumps(r["arg"], sort_keys=True)
                ok = abs(r["value"] - refs[key]) < 1e-9
                detail = f"prediction {r['value']} != {refs[key]}"
            else:
                detail = f"status {r['status']}: {r['value']}"
            res.check(f"{r['kind']} request", ok, detail)
        res.report["check_s"] = time.perf_counter() - t_check

    if not ctx.trace:
        res.metric("setup_s", setup_s, "s")
        res.metric("pass_wall_s", PASS_REQUESTS * per_request_s, "s")
        res.metric("op_p50_ms", _route_p50(closed, "send"), "ms")
    res.report.update(
        cold_pass_s=cold_s,
        peak_rss_mb=peak,
        closed_loop_op_p90_ms=pct(_latencies(closed, since="send"), 90),
        open_loop_op_p50_ms=_route_p50(opened, "due"),
        open_loop_requests=len(opened),
        open_loop_rps=OPEN_RPS,
        map_p50_ms=pct(_latencies(opened, "map"), 50),
        map_p90_ms=pct(_latencies(opened, "map"), 90),
        predict_p50_ms=pct(_latencies(opened, "predict"), 50),
        predict_p90_ms=pct(_latencies(opened, "predict"), 90),
        closed_loop_requests=len(closed),
        serve_rps=1.0 / per_request_s,
        loadgen_lag_p90_ms=pct([1000 * (r["send"] - r["due"]) for r in opened], 90),
        error_rate=res.failed / res.attempted,
    )
    return res


def serving_layer_metrics(res: Result, spans: list[dict]) -> None:
    """Per-request serving figures from the traced request spans."""
    by_trace: dict[str, dict[str, dict]] = {}
    for s in spans:
        if s.get("trace_id"):
            by_trace.setdefault(s["trace_id"], {})[s["name"]] = s
    map_q, pred, render, over, queue, jobs, read, returned, lag = ([] for _ in range(9))
    for t in by_trace.values():
        req, client = t.get("http.request"), t.get("loadgen.request")
        if req is None or client is None:
            continue
        if client["due"] is not None:
            lag.append(1000 * (client["start"] - client["due"]))
        jobs.append(req["jobs"])
        # client send to handler start, on the same clock: connect, the
        # listen backlog, thread start and request parsing
        queue.append(1000 * (req["start"] - client["start"]))
        inner = t.get("serving_http.map_html") or t.get("serving.predict")
        if inner is not None:
            over.append(1000 * (dur(client) - dur(inner)))
        if "serving_http.render" in t:
            r = t["serving_http.render"]
            render.append(1000 * dur(r))
            map_q.append(1000 * (dur(t["serving_http.map_html"]) - dur(r)))
            read.append(req["input_rows"])
            returned.append(r["rows"])
        if "serving.predict" in t:
            pred.append(1000 * dur(t["serving.predict"]))
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    res.metric("serving.map_query_ms", med(map_q), "ms")
    res.metric("serving.predict_ms", med(pred), "ms")
    res.metric("serving.jobs_per_request", statistics.mean(jobs) if jobs else 0.0, "count")
    res.metric("serving.scan_ratio", sum(read) / sum(returned) if sum(returned) else 0.0, "ratio")
    res.metric("serving_http.render_ms", med(render), "ms")
    res.metric("serving_http.overhead_ms", med(over), "ms")
    res.metric("serving_http.queue_ms", med(queue), "ms")
    res.metric("loadgen.lag_p90_ms", pct(lag, 90) if lag else 0.0, "ms")
