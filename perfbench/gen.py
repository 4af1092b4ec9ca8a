"""Seeded BPI payload generator for the benchmark.

Runs apart from the engine: it writes CoinDesk-shaped BPI payload files
(one JSON observation per line), an FX rates dimension covering every date
it generated, and a manifest with the row count and an order-insensitive
digest of the warehouse rows the engine must load from them. The digest is
computed here from the generated values alone, so a lost or duplicated
warehouse row changes it whatever the engine does.

The same seed gives byte-identical files. `run.py` calls `generate`.
"""

import datetime as dt
import hashlib
import json
import os
import random
import struct

DISCLAIMER = ("This data was produced from the CoinDesk Bitcoin Price Index (USD). "
              "Non-USD currency data converted using hourly conversion rate from "
              "openexchangerates.org")
CHART = "Bitcoin"
CURRENCIES = (("USD", "&#36;", "United States Dollar", 15000_0000, 70000_0000),
              ("GBP", "&pound;", "British Pound Sterling", 12000_0000, 55000_0000),
              ("EUR", "&euro;", "Euro", 14000_0000, 65000_0000))
# ISO offsets: most payloads are UTC, the rest carry an offset the engine
# must normalise to UTC (the reference's feed mixes both).
OFFSETS_MIN = (0, 0, 0, 0, 420, -300, 330, 60, -480)
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
EPOCH0 = dt.date(2022, 1, 1)
SPAN_DAYS = 730
MALFORMED_SHARE = 0.01
MASK64 = (1 << 64) - 1


def day(i):
    return EPOCH0 + dt.timedelta(days=i)


def rates_dimension(seed):
    """USD->IDR rate per date for every day the generator can emit, plus a
    distractor pair the enrichment must filter out."""
    rng = random.Random(f"rates:{seed}")
    rows = []
    for i in range(SPAN_DAYS):
        d = day(i).isoformat()
        idr = rng.randrange(14_000_00, 16_500_00) / 100.0
        rows.append({"from_ccy": "USD", "to_ccy": "IDR", "rate_date": d, "fx_rate": idr})
        if i % 7 == 0:
            rows.append({"from_ccy": "USD", "to_ccy": "EUR", "rate_date": d,
                         "fx_rate": rng.randrange(85, 105) / 100.0})
    return rows


def idr_by_date(rates):
    return {r["rate_date"]: r["fx_rate"] for r in rates
            if r["from_ccy"] == "USD" and r["to_ccy"] == "IDR"}


def comma_rate(v):
    """Integer ten-thousandths -> the feed's comma'd rate string."""
    return f"{v // 10000:,}.{v % 10000:04d}"


def bits(x):
    return format(struct.unpack(">Q", struct.pack(">d", x))[0], "016x")


def row_key(fields):
    """64-bit hash of one warehouse row; the digest is their sum mod 2^64,
    so it ignores order but counts every copy of a row."""
    h = hashlib.sha256("\x1f".join(fields).encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


DAYS = [day(i) for i in range(-1, SPAN_DAYS + 1)]
ISO_DAY = [d.isoformat() for d in DAYS]
FEED_DAY = [f"{MONTHS[d.month - 1]} {d.day}, {d.year}" for d in DAYS]
CLOCK = [f"{h:02d}:{m:02d}" for h in range(24) for m in range(60)]


def observation(rng, idr):
    """One payload line and the deterministic warehouse fields it yields."""
    secs = rng.randrange(SPAN_DAYS * 86400)
    off = OFFSETS_MIN[rng.randrange(len(OFFSETS_MIN))]
    di, sod = divmod(secs, 86400)
    ldi, lsod = divmod(secs + off * 60, 86400)
    hm, s = divmod(sod, 60)
    lhm, ls = divmod(lsod, 60)
    hhmm = CLOCK[hm]
    ts = f"{ISO_DAY[di + 1]} {hhmm}:{s:02d}"
    sign = "+" if off >= 0 else "-"
    a = abs(off)
    iso = f"{ISO_DAY[ldi + 1]}T{CLOCK[lhm]}:{ls:02d}{sign}{a // 60:02d}:{a % 60:02d}"
    feed_day = FEED_DAY[di + 1]
    legs = []
    floats = []
    for code, symbol, desc, lo, hi in CURRENCIES:
        r = comma_rate(rng.randrange(lo, hi))
        f = float(r.replace(",", ""))
        floats.append(f)
        legs.append(f'"{code}":{{"code":"{code}","symbol":"{symbol}","rate":"{r}",'
                    f'"description":"{desc}","rate_float":{f!r}}}')
    line = (f'{{"time":{{"updated":"{feed_day} {hhmm}:{s:02d} UTC","updatedISO":"{iso}",'
            f'"updateduk":"{feed_day} at {hhmm} GMT"}},'
            f'"disclaimer":"{DISCLAIMER}","chartName":"{CHART}","bpi":{{{",".join(legs)}}}}}')
    fields = (DISCLAIMER, CHART,
              "USD", bits(floats[0]), CURRENCIES[0][2],
              "GBP", bits(floats[1]), CURRENCIES[1][2],
              "EUR", bits(floats[2]), CURRENCIES[2][2],
              bits(floats[0] * idr[ISO_DAY[di + 1]]), ts, ts)
    return line, fields


def payload_file(rng, idr, n_lines):
    """n_lines payload lines, about 1% of them cut short (malformed JSON for
    the quarantine lane). Returns (text, lines, rows, digest)."""
    out = []
    rows = 0
    digest = 0
    for _ in range(n_lines):
        line, fields = observation(rng, idr)
        if rng.random() < MALFORMED_SHARE:
            out.append(line[: len(line) // 2])
        else:
            out.append(line)
            rows += 1
            digest = (digest + row_key(fields)) & MASK64
    return "\n".join(out) + "\n", n_lines, rows, digest


def write(path, text):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def generate(seed, out, polls=0, poll_lines=36, backlog_lines=0, backlog_files=4):
    """Write rates.jsonl, polls/poll-NNNNNN.json (listed in polls.tsv),
    backlog/part-NN.json and manifest.json under `out`. Returns the manifest."""
    rates = rates_dimension(seed)
    idr = idr_by_date(rates)
    os.makedirs(out, exist_ok=True)
    write(os.path.join(out, "rates.jsonl"),
          "".join(json.dumps(r, sort_keys=True) + "\n" for r in rates))
    manifest = {"seed": seed, "polls": [], "backlog": None}
    if polls:
        os.makedirs(os.path.join(out, "polls"), exist_ok=True)
        rng = random.Random(f"polls:{seed}")
        tsv = []
        for i in range(polls):
            text, lines, rows, digest = payload_file(rng, idr, poll_lines)
            name = f"poll-{i:06d}.json"
            write(os.path.join(out, "polls", name), text)
            manifest["polls"].append({"file": name, "lines": lines, "rows": rows,
                                      "digest": f"{digest:016x}"})
            tsv.append(f"{name}\t{lines}\t{len(text.encode('utf-8'))}\n")
        # landing order for the harness: file, lines, bytes
        write(os.path.join(out, "polls.tsv"), "".join(tsv))
    if backlog_lines:
        os.makedirs(os.path.join(out, "backlog"), exist_ok=True)
        rng = random.Random(f"backlog:{seed}")
        tot_lines = tot_rows = tot_digest = 0
        for i in range(backlog_files):
            n = backlog_lines // backlog_files + (1 if i < backlog_lines % backlog_files else 0)
            text, lines, rows, digest = payload_file(rng, idr, n)
            write(os.path.join(out, "backlog", f"part-{i:02d}.json"), text)
            tot_lines += lines
            tot_rows += rows
            tot_digest = (tot_digest + digest) & MASK64
        manifest["backlog"] = {"lines": tot_lines, "rows": tot_rows, "digest": f"{tot_digest:016x}"}
    write(os.path.join(out, "manifest.json"), json.dumps(manifest, sort_keys=True) + "\n")
    return manifest


def sum_digests(hexes):
    total = 0
    for h in hexes:
        total = (total + int(h, 16)) & MASK64
    return f"{total:016x}"
