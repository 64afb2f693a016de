"""HTTP layer tests: the reference's URL + JSON contracts (§2.8) served
from one SparkSession — hello page, symbols dump, OHLCV shape, /q with a
Python scan body, and the 400 error style."""

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from pyspark.sql import Row

from zdb_spark.schema import ColumnType, PartitionBy, Schema
from zdb_spark.server import make_server
from zdb_spark.table import Table

NS = 1_000_000_000
MIN = 60 * NS
T0 = 1704067200 * NS
PORT = 17979
HOSTILE = ["O'NEIL", "A\\B", "X') OR ('1'='1"]


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    home = str(tmp_path_factory.mktemp("srv_home"))

    def schema(name):
        return (Schema(name)
                .add_col("sym", ColumnType.SYMBOL16)
                .add_col("open", ColumnType.F64)
                .add_col("high", ColumnType.F64)
                .add_col("low", ColumnType.F64)
                .add_col("close", ColumnType.F64)
                .add_col("volume", ColumnType.U64)
                .with_partition_by(PartitionBy.DAY))
    t = Table.create(spark, schema("bars"), home=home)
    rows = [Row(ts=T0 + i * MIN, sym=s, open=100.0 + i, high=101.0 + i,
                low=99.0 + i, close=100.5 + i, volume=10 + i)
            for i in range(5) for s in ("AAPL", "MSFT")]
    t.write(spark.createDataFrame(rows))
    # a second table whose symbols would break out of SQL string text
    q = Table.create(spark, schema("quotes"), home=home)
    q.write(spark.createDataFrame(
        [r.asDict() | {"sym": s} for r in rows[::2]
         for s in ("AAPL", *HOSTILE)]))
    srv = make_server(spark, home=home, port=PORT)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    yield f"http://127.0.0.1:{PORT}"
    srv.shutdown()


def get(url):
    return urllib.request.urlopen(url, timeout=120)


class TestEndpoints:
    def test_hello(self, server):
        body = get(f"{server}/").read()
        assert b"zdb-spark" in body

    def test_favicon_cached(self, server):
        r = get(f"{server}/favicon.ico")
        assert r.status == 200
        assert "max-age" in r.headers.get("cache-control", "")

    def test_ui_page(self, server):
        r = get(f"{server}/ui")
        assert r.status == 200
        assert "text/html" in r.headers.get("content-type", "")
        body = r.read().decode()
        # the page is a real /ohlcv consumer: form fields + fetch + the
        # payload keys it renders
        for marker in ("/ohlcv/", "results", "min_date", "canvas",
                       'id="symbols"'):
            assert marker in body, marker

    def test_cors_header(self, server):
        r = get(f"{server}/")
        assert r.headers["access-control-allow-origin"] == "*"

    def test_symbols(self, server):
        assert json.loads(get(f"{server}/symbols/bars/sym").read()) \
            == ["AAPL", "MSFT"]

    def test_ohlcv_shape(self, server):
        out = json.loads(get(
            f"{server}/ohlcv/bars/{T0}/{T0 + 10 * MIN}?symbols=AAPL").read())
        assert set(out) == {"results", "min_date", "max_date"}
        a = out["results"]["AAPL"]
        assert set(a) == {"t", "o", "h", "l", "c", "v"}
        assert a["o"] == [100.0 + i for i in range(5)]
        assert "MSFT" not in out["results"]

    def test_ohlcv_every_resample(self, server):
        # the reference's ohlcv.rs:56 "TODO: duration like 5Minutes",
        # implemented: 5 one-minute bars collapse into one 5m bucket
        out = json.loads(get(
            f"{server}/ohlcv/bars/{T0}/{T0 + 10 * MIN}"
            f"?symbols=AAPL&every=5Minutes").read())
        a = out["results"]["AAPL"]
        assert a["t"] == [T0]
        assert a["o"] == [100.0]          # open of the first minute bar
        assert len(a["c"]) == 1

    def test_ohlcv_bad_every_400(self, server):
        with pytest.raises(urllib.error.HTTPError) as ei:
            get(f"{server}/ohlcv/bars/{T0}/{T0 + MIN}?every=fast")
        assert ei.value.code == 400
        assert "cannot parse duration" in ei.value.read().decode()

    def test_ohlcv_date_strings(self, server):
        # 3-format date parsing: %Y-%m-%d path
        out = json.loads(get(
            f"{server}/ohlcv/bars/2024-01-01/2024-01-02").read())
        assert len(out["results"]) == 2

    @pytest.mark.parametrize("every", ["", "&every=2m"])
    def test_ohlcv_hostile_symbols_stay_values(self, server, every):
        """?symbols= reaches the plan as Column values, never SQL text:
        each hostile symbol selects exactly its own rows."""
        def fetch(syms):
            return json.loads(get(
                f"{server}/ohlcv/quotes/{T0}/{T0 + 10 * MIN}?symbols="
                + urllib.parse.quote(",".join(syms)) + every).read())

        got = fetch(HOSTILE)
        assert sorted(got["results"]) == sorted(HOSTILE)
        aapl = fetch(["AAPL"])["results"]["AAPL"]
        assert all(b == aapl for b in got["results"].values())
        assert fetch(["Z') OR ('1'='1", "AAPL' OR '1'='1"]) == {
            "results": {}, "min_date": None, "max_date": None}

    def test_q_python_scan(self, server):
        body = json.dumps({
            "table": "bars",
            "query": "def scan(close, volume):\n"
                     "    return [float(close.sum()), int(volume.sum())]",
            "from": "2024-01-01", "to": "2024-01-02",
        }).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        out = json.loads(urllib.request.urlopen(req, timeout=120).read())
        assert out["result"] == [1025.0, 120]

    def test_q_pickle_format_roundtrip(self, server):
        """Julia-Serialization parity mode: format=pickle returns
        language-native binary of the RAW result — numpy dtypes survive
        where JSON would coerce them."""
        import pickle

        body = json.dumps({
            "table": "bars",
            "query": "import numpy as np\n"
                     "def scan(close, volume):\n"
                     "    return np.array([close.sum(), volume.sum()])",
            "from": "2024-01-01", "to": "2024-01-02",
            "format": "pickle",
        }).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        resp = urllib.request.urlopen(req, timeout=120)
        assert resp.headers["content-type"] == "application/octet-stream"
        res = pickle.loads(resp.read())
        import numpy as np
        assert isinstance(res, np.ndarray)
        assert res.tolist() == [1025.0, 120.0]

    def test_q_unknown_format_400(self, server):
        body = json.dumps({
            "table": "bars",
            "query": "def scan(close):\n    return float(close.sum())",
            "format": "msgpack",
        }).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=120)
        assert ei.value.code == 400
        assert "unknown format" in ei.value.read().decode()

    def test_unknown_table_400(self, server):
        with pytest.raises(urllib.error.HTTPError) as ei:
            get(f"{server}/symbols/nope/sym")
        assert ei.value.code == 400
        assert "does not exist" in ei.value.read().decode()

    def test_q_requires_scan_fn(self, server):
        body = json.dumps({"table": "bars", "query": "x = 1"}).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=120)
        assert ei.value.code == 400
        assert "scan" in ei.value.read().decode()

    def test_q_unknown_column_400_text(self, server):
        # reference message shape: query.rs:166-214
        body = json.dumps({
            "table": "bars",
            "query": "def scan(nope):\n    return 1",
        }).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=120)
        assert ei.value.code == 400
        assert ei.value.read().decode() \
            == "column nope does not exist on table bars"

    def test_q_wrong_type_400_text(self, server):
        body = json.dumps({
            "table": "bars",
            "query": "def scan(volume: 'f64'):\n"
                     "    return float(volume.sum())",
        }).encode()
        req = urllib.request.Request(f"{server}/q", data=body, method="POST")
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=120)
        assert ei.value.code == 400
        assert ei.value.read().decode() \
            == "expected parameter volume to be of type Vector{UInt64}"

    def test_q_sweeps_request_caches(self, server, spark):
        # release() discipline: a request body that caches intermediates
        # and never unpersists must not grow the session's retained
        # blocks across requests (VERDICT r2 item 10).
        from zdb_spark.server import _persisted_rdd_ids
        body = json.dumps({
            "table": "bars",
            "query": "from pyspark.sql import SparkSession\n"
                     "_sp = SparkSession.builder.getOrCreate()\n"
                     "_leak = _sp.range(1000).cache()\n"
                     "_leak.count()\n"
                     "def scan(volume):\n"
                     "    return int(volume.sum())",
        }).encode()
        before = _persisted_rdd_ids(spark)
        for _ in range(3):
            req = urllib.request.Request(f"{server}/q", data=body,
                                         method="POST")
            out = json.loads(urllib.request.urlopen(req, timeout=120).read())
            assert out["result"] == 120
        assert _persisted_rdd_ids(spark) <= before

    def test_q_concurrent_requests_keep_each_others_caches(self, server,
                                                           spark):
        """The sweep is group-refcounted: while any /q is in flight, a
        finishing request must NOT unpersist a concurrent request's
        fresh cache; the LAST request out sweeps everything.  Request A
        caches, then blocks until request B (which finishes fast) has
        come and gone; A then proves its cache is still materialized
        before returning."""
        from zdb_spark.server import _persisted_rdd_ids

        slow = json.dumps({
            "table": "bars",
            "query": "import time\n"
                     "from pyspark.sql import SparkSession\n"
                     "_sp = SparkSession.builder.getOrCreate()\n"
                     "_mine = _sp.range(500).cache()\n"
                     "_mine.count()\n"
                     "time.sleep(3)\n"  # let the fast request enter+exit
                     "assert _mine.is_cached, 'swept by concurrent request'\n"
                     "assert _mine.storageLevel.useMemory, 'swept early'\n"
                     "def scan(volume):\n"
                     "    return int(volume.sum())",
        }).encode()
        fast = json.dumps({
            "table": "bars",
            "query": "def scan(volume):\n    return int(volume.sum())",
        }).encode()

        before = _persisted_rdd_ids(spark)
        results, errors = [], []

        def post(body):
            try:
                req = urllib.request.Request(f"{server}/q", data=body,
                                             method="POST")
                r = urllib.request.urlopen(req, timeout=120)
                results.append(json.loads(r.read())["result"])
            except Exception as e:  # pragma: no cover
                errors.append(e)

        ta = threading.Thread(target=post, args=(slow,))
        ta.start()
        import time
        time.sleep(1.0)  # slow request is inside its body's sleep
        tb = threading.Thread(target=post, args=(fast,))
        tb.start()
        ta.join()
        tb.join()
        assert not errors, errors
        assert results.count(120) == 2   # the in-body asserts held
        # after the group drains, the leaked cache is swept.  The
        # response is sent before the handler's finally-sweep runs, so
        # give the server thread a moment.
        for _ in range(50):
            if _persisted_rdd_ids(spark) <= before:
                break
            time.sleep(0.1)
        assert _persisted_rdd_ids(spark) <= before
