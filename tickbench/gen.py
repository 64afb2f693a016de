"""Seeded inputs for the tick-store benchmark and the numpy oracles that
check the engine's answers.

Everything here is pure numpy/pandas: the same seed gives the same
ticks, requests, micro-batches and documents, and the expected answers
are computed from those arrays without touching Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NS = 1_000_000_000
DAY_NS = 86_400 * NS
HOUR_NS = 3_600 * NS
EPOCH_DAY0 = 1_704_153_600 * NS        # 2024-01-02T00:00:00Z
SESSION_OPEN_NS = (13 * 3600 + 1800) * NS  # 13:30 UTC
SESSION_SECONDS = 23_400               # 6.5 h of 1-second ticks
N_SYMBOLS = 500
# raw user bytes per tick: ts + 4-char symbol + four f64 prices + u64 volume
USER_BYTES_PER_TICK = 8 + 4 + 4 * 8 + 8


def symbol_names(rng: np.random.Generator) -> np.ndarray:
    """Zipf rank -> ticker.  Rank 0 is the most traded symbol."""
    names = np.array([f"T{i:03d}" for i in range(N_SYMBOLS)])
    return names[rng.permutation(N_SYMBOLS)]


def zipf_weights(n: int = N_SYMBOLS, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _tick_prob() -> np.ndarray:
    """Per-second trade probability by Zipf rank: the top symbol ticks in
    12% of seconds, the 500th in about 0.01% (~14k ticks a day).  The
    skew is assumed, not fitted to market data."""
    return np.minimum(1.0, 0.12 / np.arange(1, N_SYMBOLS + 1) ** 1.1)


def ticks_between(rng: np.random.Generator, names: np.ndarray,
                  first_second_ns: int, seconds: int) -> pd.DataFrame:
    """1-second ticks for every symbol that trades in each second of
    ``[first_second_ns, first_second_ns + seconds)``; sorted by (ts, sym).
    Prices are whole cents, so every aggregate is exact in float64."""
    hit = rng.random((seconds, N_SYMBOLS)) < _tick_prob()[None, :]
    sec, rank = np.nonzero(hit)
    n = len(sec)
    o = rng.integers(1_000, 50_000, n) / 100.0
    c = np.round(o + rng.integers(-200, 201, n) / 100.0, 2)
    c = np.maximum(c, 0.01)
    h = np.round(np.maximum(o, c) + rng.integers(0, 100, n) / 100.0, 2)
    lo = np.round(np.maximum(np.minimum(o, c) - rng.integers(0, 100, n)
                             / 100.0, 0.01), 2)
    return pd.DataFrame({
        "ts": first_second_ns + sec.astype(np.int64) * NS,
        "sym": names[rank],
        "open": o, "high": h, "low": lo, "close": c,
        "volume": rng.integers(1, 1_000, n).astype(np.int64),
    })


def tick_day(rng: np.random.Generator, names: np.ndarray,
             day: int) -> pd.DataFrame:
    start = EPOCH_DAY0 + day * DAY_NS + SESSION_OPEN_NS
    return ticks_between(rng, names, start, SESSION_SECONDS)


def tick_batches(rng: np.random.Generator, names: np.ndarray,
                 start_ns: int, n_batches: int,
                 rows: int = 1_000) -> list[pd.DataFrame]:
    """``n_batches`` consecutive micro-batches of exactly ``rows`` ticks,
    strictly later in time than ``start_ns`` and than each other."""
    # ~0.63 ticks/second on average: draw generously, then cut
    need = n_batches * rows
    secs = int(need / 0.55) + 60
    frame = ticks_between(rng, names, start_ns + NS, secs)
    while len(frame) < need:
        more = ticks_between(rng, names,
                             int(frame["ts"].iloc[-1]) + NS, secs)
        frame = pd.concat([frame, more], ignore_index=True)
    # never split one second across two batches (the rest of a split
    # second is dropped): a batch boundary must be a strict ts boundary
    # for the tail-read consistency argument
    out, i = [], 0
    ts = frame["ts"].to_numpy()
    for _ in range(n_batches):
        j = i + rows
        out.append(frame.iloc[i:j].reset_index(drop=True))
        i = j
        while i < len(ts) and ts[i] == ts[i - 1]:
            i += 1
    return out


# --------------------------------------------------------------------- #
# oracles                                                               #
# --------------------------------------------------------------------- #
def select(frame: pd.DataFrame, lo: int, hi: int,
           syms: list[str] | None) -> pd.DataFrame:
    m = (frame["ts"] >= lo) & (frame["ts"] <= hi)
    if syms:
        m &= frame["sym"].isin(syms)
    return frame[m]


def expect_ohlcv(frame: pd.DataFrame, lo: int, hi: int,
                 syms: list[str] | None, every_ns: int | None) -> dict:
    """The ``/ohlcv`` body the engine must return for this request."""
    sel = select(frame, lo, hi, syms).sort_values(["sym", "ts"])
    results: dict[str, dict] = {}
    for sym, g in sel.groupby("sym", sort=True):
        if every_ns is None:
            bars = {"t": g["ts"].tolist(), "o": g["open"].tolist(),
                    "h": g["high"].tolist(), "l": g["low"].tolist(),
                    "c": g["close"].tolist(), "v": g["volume"].tolist()}
        else:
            b = g["ts"].to_numpy() // every_ns * every_ns
            agg = (g.assign(b=b).groupby("b", sort=True)
                   .agg(o=("open", "first"), h=("high", "max"),
                        l=("low", "min"), c=("close", "last"),
                        v=("volume", "sum")))
            bars = {"t": agg.index.tolist(), **{k: agg[k].tolist()
                                                for k in "ohlcv"}}
        results[sym] = bars
    ts = [t for r in results.values() for t in r["t"]]
    return {"results": results, "min_date": min(ts) if ts else None,
            "max_date": max(ts) if ts else None}


Q_BODY = ("import numpy as np\n"
          "def scan(volume, close):\n"
          "    return np.array([float(len(volume)), float(volume.sum()),\n"
          "                     float((close * volume).sum())])\n")


def expect_q(frame: pd.DataFrame, lo: int, hi: int) -> list[float]:
    sel = select(frame, lo, hi, None)
    v = sel["volume"].to_numpy()
    return [float(len(sel)), float(v.sum()),
            float((sel["close"].to_numpy() * v).sum())]


def q_matches(got, want: list[float]) -> bool:
    if not isinstance(got, list) or len(got) != 3:
        return False
    # count and volume are exact integers; the notional sum depends on
    # the order partials are added, so it gets a relative tolerance
    return (got[0] == want[0] and got[1] == want[1]
            and abs(got[2] - want[2]) <= 1e-9 * abs(want[2]))


# --------------------------------------------------------------------- #
# documents                                                             #
# --------------------------------------------------------------------- #
VOCAB = ("a the data spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row part table stream "
         "merge batch join vector customer").split()


def documents(rng: np.random.Generator, n: int = 5_000,
              n_exact: int = 40, n_near: int = 40) -> tuple[pd.DataFrame,
                                                             dict]:
    """A corpus shaped like the sf0.1 ``documents`` table (doc_id, text,
    lang, source; 12-80 words from a 30-word vocabulary, 5,000 docs) with
    planted duplicates: ``n_exact`` copies that differ only in case and
    whitespace, and ``n_near`` copies with one word replaced.  Returns
    the corpus and the planted (copy_id -> original_id) maps."""
    vocab = np.array(VOCAB)
    base = n - n_exact - n_near
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(12, 81))])
             for _ in range(base)]
    # near-dup originals are long docs so one replaced word keeps the
    # 5-shingle Jaccard far above the 0.5 LSH threshold
    long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 60]
    orig_exact = rng.choice(base, n_exact, replace=False)
    orig_near = rng.choice(long_ids, n_near, replace=False)
    exact, near = {}, {}
    for o in orig_exact:
        exact[len(texts)] = int(o)
        texts.append("  " + texts[o].upper() + " ")
    for o in orig_near:
        words = texts[o].split()
        k = int(rng.integers(0, len(words)))
        words[k] = "zebra"
        near[len(texts)] = int(o)
        texts.append(" ".join(words))
    frame = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "zh"], n),
        "source": np.array([f"src{i % 4}" for i in range(n)]),
    })
    return frame, {"exact": exact, "near": near}


def eval_set(rng: np.random.Generator, docs: pd.DataFrame,
             n: int = 20) -> tuple[pd.DataFrame, set[int]]:
    """``n`` eval docs: half copy a 12-word span of a corpus doc (those
    docs must come out contaminated), half are fresh text over words the
    corpus never uses."""
    texts, leaked = [], set()
    pick = rng.choice(len(docs), n // 2, replace=False)
    for i in pick:
        words = docs["text"].iloc[int(i)].split()
        if len(words) >= 12:
            texts.append(" ".join(words[:12]))
            leaked.add(int(docs["doc_id"].iloc[int(i)]))
    fresh = np.array("alpha bravo charlie delta echo foxtrot golf hotel "
                     "india juliet kilo lima".split())
    while len(texts) < n:
        texts.append(" ".join(fresh[rng.integers(0, len(fresh), 16)]))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts}), leaked
