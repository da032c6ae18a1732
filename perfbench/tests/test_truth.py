"""The HFP generator's planted truth against an independent replay.

The replay re-implements the reference cache from the wire text alone, in
Python: drop what the source parser drops, canonicalise the payload (parse,
sort keys, compact), and walk a first-seen-wins cache with the 4 h TTL --
a duplicate does not refresh its prime's anchor.  Needs the JVM build
(``build.py``); the generator runs in ``--workload gen`` mode.
"""
import datetime as dt
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import build  # noqa: E402

TTL_MS = 4 * 3600 * 1000


def generate(seed, lines):
    classes = build.build()
    scratch = os.path.join(os.path.dirname(HERE), ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        out = os.path.join(d, "feed.tsv")
        subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
                        "perfbench.Main", "--workload", "gen", "--seed", str(seed),
                        "--lines", str(lines), "--out", out], check=True)
        with open(out) as f:
            rows = [l.rstrip("\n").split("\t", 2) for l in f]
    return [(v, int(us), text) for v, us, text in rows]


def canonical(payload):
    try:
        return json.dumps(json.loads(payload), sort_keys=True, separators=(",", ":"))
    except ValueError:
        return payload


def replay(texts):
    cache, out = {}, []
    for line in texts:
        parts = line.split(" ", 2)
        if len(parts) < 3 or len(parts[1].split("/")) < 8:
            out.append("X")
            continue
        t = dt.datetime.strptime(parts[0], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
        ms = int(t.timestamp() * 1000)
        key = canonical(parts[2])
        anchor = cache.get(key)
        if anchor is not None and ms - anchor <= TTL_MS:
            out.append("D")
        else:
            cache[key] = ms
            out.append("P")
    return out


class TruthTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.rows = generate(seed=7, lines=40000)

    def test_truth_equals_replay(self):
        truth = [v for v, _, _ in self.rows]
        self.assertEqual(truth, replay([t for _, _, t in self.rows]))

    def test_event_ids_are_unique_and_ordered(self):
        us = [u for _, u, _ in self.rows]
        self.assertEqual(us, sorted(set(us)))

    def test_planted_structure(self):
        v = [x for x, _, _ in self.rows]
        dups, primes, drops = v.count("D"), v.count("P"), v.count("X")
        self.assertTrue(0.85 < dups / primes < 1.05, dups / primes)
        self.assertTrue(0.0005 < drops / len(v) < 0.002, drops)
        reformatted = sum(1 for _, _, t in self.rows if '{ "VP" : {' in t)
        self.assertTrue(0.07 < reformatted / dups < 0.13, reformatted)
        span_h = (self.rows[-1][1] - self.rows[0][1]) / 3.6e9
        self.assertGreaterEqual(span_h, 3 * 4 - 0.5)
        vehicles = {t.split(" ")[1] for _, _, t in self.rows}
        self.assertGreater(len(vehicles), 4000)

    def test_copies_cross_half_and_full_ttl(self):
        first, half, past = {}, 0, 0
        for v, us, text in self.rows:
            parts = text.split(" ", 2)
            if v == "X":
                continue
            key = canonical(parts[2])
            if key in first:
                gap = (us - first[key]) / 1000
                half += v == "D" and TTL_MS / 2 - 600_000 <= gap <= TTL_MS / 2 + 600_001
                past += v == "P" and gap > TTL_MS
            else:
                first[key] = us
        self.assertGreater(half, 100)
        self.assertGreater(past, 10)


if __name__ == "__main__":
    unittest.main()
