"""Seeded nginx access-log generator with a ground-truth sidecar.

Every byte written is a function of the seed: the same seed gives
byte-identical log files and sidecar. The generated traffic has

- clients drawn from a Zipf distribution over a fixed IP pool,
- a response-code mix with 3xx, 4xx and 5xx codes,
- a diurnal request rate (a daily sine curve, quieter weekends),
- a fixed share of malformed lines, which the engine's parser must
  send to its dead-letter channel.

The traffic parameters below (response weights, client pool and Zipf
exponent, byte-size distribution, malformed share) are chosen
assumptions, not fitted to measured traffic: they give every panel
non-empty 4xx/5xx, top-client and tail-size answers at a data size
small enough for short benchmark runs.

The sidecar is what correctness checks compare against; nothing in it
is read back from the engine:

- ``truth.tsv``: one row per valid line — file name, timestamp
  (``YYYY-MM-DD HH:MM:SS``, UTC), client IP, verb, request, response,
  bytes;
- ``manifest.json``: per file, its line count and the 0-based indices
  of the malformed lines.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import math
import os
import random
from dataclasses import dataclass, field

MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

#: (code, weight): mostly 2xx/3xx, with 4xx and 5xx tails
RESPONSES = ((200, 78), (206, 2), (301, 2), (302, 2), (304, 5),
             (400, 1), (403, 1), (404, 6), (499, 1), (500, 1),
             (502, 0.6), (503, 0.4))
VERBS = (("GET", 90), ("POST", 8), ("HEAD", 2))
AGENTS = (
    "Mozilla/5.0 (X11; Linux x86_64; rv:74.0) Gecko/20100101 Firefox/74.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
    "(KHTML, like Gecko) Chrome/80.0.3987.149 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 13_3 like Mac OS X) "
    "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/13.0 Mobile",
    "curl/7.68.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
)
REFERRERS = ("-", "-", "-", "https://example.com/", "https://www.google.com/")
#: client IP pool; a client's request share falls with its rank r as
#: 1 / r ** ZIPF_S
CLIENTS = 20000
ZIPF_S = 1.1
#: request paths; a path's share falls with its rank r as 1 / r
PATHS = 400
#: share of lines replaced by text the nginx rule cannot match
MALFORMED_SHARE = 0.01
TRUTH_COLUMNS = ("file", "ts", "clientip", "verb", "request",
                 "response", "bytes")


def _cumulative(weights) -> list[float]:
    return list(itertools.accumulate(weights))


@dataclass
class FileTruth:
    """What one generated file holds."""

    name: str
    lines: int
    malformed: list[int] = field(default_factory=list)

    @property
    def valid(self) -> int:
        return self.lines - len(self.malformed)


class LogGenerator:
    """Draws access-log lines from one seeded random stream.

    Files must be generated in the same order to reproduce the same
    bytes; each call continues the stream where the last one stopped.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        ips = set()
        while len(ips) < CLIENTS:
            ips.add("{}.{}.{}.{}".format(self.rng.randint(1, 223),
                                         self.rng.randint(0, 255),
                                         self.rng.randint(0, 255),
                                         self.rng.randint(1, 254)))
        self.ips = sorted(ips)
        self.rng.shuffle(self.ips)
        self.ip_cum = _cumulative(1.0 / (r + 1) ** ZIPF_S
                                  for r in range(CLIENTS))
        self.paths = [f"/{kind}/{i}" for i, kind in zip(
            range(PATHS), itertools.cycle(("static", "api", "page", "img")))]
        self.path_cum = _cumulative(1.0 / (r + 1) for r in range(PATHS))
        self.resp_cum = _cumulative(w for _, w in RESPONSES)
        self.verb_cum = _cumulative(w for _, w in VERBS)
        # diurnal shape: request rate per second-of-day, peak at 15:00
        self.hour_w = [1.0 + 0.8 * math.sin((h - 9) / 24 * 2 * math.pi)
                       for h in range(24)]

    def _pick(self, items, cum):
        return items[bisect.bisect(cum, self.rng.random() * cum[-1])]

    def _timestamps(self, start: int, span_s: int, n: int) -> list[int]:
        """``n`` sorted epoch seconds in [start, start + span_s), with
        the diurnal rate applied by rejection against the hour curve."""
        peak = max(self.hour_w)
        out = []
        while len(out) < n:
            t = start + int(self.rng.random() * span_s)
            if self.rng.random() * peak < self.hour_w[(t // 3600) % 24]:
                out.append(t)
        out.sort()
        return out

    def _line(self, t: int) -> tuple[str, tuple]:
        ts = dt.datetime.fromtimestamp(t, dt.timezone.utc)
        ip = self._pick(self.ips, self.ip_cum)
        verb = self._pick(VERBS, self.verb_cum)[0]
        path = self._pick(self.paths, self.path_cum)
        if self.rng.random() < 0.3:
            path += f"?id={self.rng.randint(1, 99999)}"
        code = self._pick(RESPONSES, self.resp_cum)[0]
        nbytes = 0 if code in (304, 499) or verb == "HEAD" else int(
            self.rng.lognormvariate(8.0, 1.5))
        referrer = self.rng.choice(REFERRERS)
        agent = self.rng.choice(AGENTS)
        line = (f'{ip} - - [{ts.day:02d}/{MONTHS[ts.month - 1]}/{ts.year}:'
                f'{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d} +0000] '
                f'"{verb} {path} HTTP/1.1" {code} {nbytes} '
                f'"{referrer}" "{agent}"')
        row = (ts.strftime("%Y-%m-%d %H:%M:%S"), ip, verb, path, code,
               nbytes)
        return line, row

    def _malformed(self, line: str) -> str:
        """A line the nginx rule cannot match: cut before the closing
        quote of the user agent, or replaced by non-log text."""
        if self.rng.random() < 0.5:
            return line[:self.rng.randint(8, len(line) - 2)]
        return "-- MARK -- " + "".join(
            self.rng.choice("abcdefxyz 0123456789") for _ in range(40))

    def write_file(self, path: str, start: int, span_s: int,
                   n: int) -> tuple[FileTruth, list[tuple]]:
        """Write ``n`` lines covering [start, start + span_s) to
        ``path``; return the file's truth and its valid rows."""
        name = os.path.basename(path)
        truth = FileTruth(name=name, lines=n)
        rows = []
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            for i, t in enumerate(self._timestamps(start, span_s, n)):
                line, row = self._line(t)
                if self.rng.random() < MALFORMED_SHARE:
                    truth.malformed.append(i)
                    line = self._malformed(line)
                else:
                    rows.append((name,) + row)
                fh.write(line + "\n")
        return truth, rows


class Sidecar:
    """Accumulates ground truth for a set of generated files and writes
    it next to them."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.files: list[FileTruth] = []
        self.rows: list[tuple] = []

    def add(self, truth: FileTruth, rows: list[tuple]) -> None:
        self.files.append(truth)
        self.rows.extend(rows)

    def write(self) -> None:
        with open(os.path.join(self.out_dir, "truth.tsv"), "w",
                  encoding="utf-8", newline="\n") as fh:
            fh.write("\t".join(TRUTH_COLUMNS) + "\n")
            for row in self.rows:
                fh.write("\t".join(map(str, row)) + "\n")
        with open(os.path.join(self.out_dir, "manifest.json"), "w",
                  encoding="utf-8") as fh:
            json.dump({"files": [vars(f) for f in self.files]}, fh,
                      indent=1, sort_keys=True)


def day_start(date: str) -> int:
    """Epoch seconds of ``YYYY-MM-DD`` 00:00:00 UTC."""
    return int(dt.datetime.strptime(date, "%Y-%m-%d")
               .replace(tzinfo=dt.timezone.utc).timestamp())


def generate_rotated(gen: LogGenerator, log_dir: str, first_day: str,
                     days: int, lines_per_day: int,
                     sidecar: Sidecar) -> list[str]:
    """One rotated file per day (``access.log.<N>``, oldest first in
    the returned list). Weekend days carry 70% of the weekday volume."""
    os.makedirs(log_dir, exist_ok=True)
    start = day_start(first_day)
    paths = []
    for d in range(days):
        t0 = start + d * 86400
        weekend = dt.datetime.fromtimestamp(
            t0, dt.timezone.utc).weekday() >= 5
        n = int(lines_per_day * (0.7 if weekend else 1.0))
        path = os.path.join(log_dir, f"access.log.{days - d}")
        sidecar.add(*gen.write_file(path, t0, 86400, n))
        paths.append(path)
    return paths
