"""Seeded feed-snapshot generator for the ingest workloads.

Entries mimic the reference's five-feed RSS poll (collector.py:96-100):
title, RFC-1123 `published`, description, link, guid, optional
media_thumbnail and the feed name. Text follows the repository's synthetic
`documents` corpus (lowercase words from a small vocabulary), with
capitalised name runs and role/category keywords mixed in so the rule-based
analyzer finds actors. Nothing is downloaded: the same seed always gives
byte-identical snapshots.

Each snapshot repeats a quarter of the previous snapshot's entries (the
overlap of consecutive RSS polls) and carries about 1 % malformed or
null-guid lines, which ingest must drop. Every snapshot is written with a
`.guids` side file that lists its valid guids, for the output checks.
"""
import datetime
import json
import os
import random

FEEDS = ["Business", "Health", "Politics", "Science", "Technology"]
WORDS = ("a the batch part spark line column order small sort fast value "
         "scan hash slow group agg filter query big key window row table "
         "stream merge data customer vector join").split()
# keywords of Analyze.RuleBasedAnalyzer's role and category dictionaries
KEYWORDS = ("minister president ceo chief police court reporter election "
            "protest parliament launch unveil product resign appoint "
            "successor housing rent mortgage").split()
FIRST = ("Ada Alan Grace Linus Barbara Edsger Donald Frances Ken Margaret "
         "Dennis Radia John Sophie Tim Leslie").split()
LAST = ("Lovelace Turing Hopper Torvalds Liskov Dijkstra Knuth Allen "
        "Thompson Hamilton Ritchie Perlman Backus Wilson Lamport").split()
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]
EPOCH = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
# each snapshot's entries fall in their own 6-hour slot, so a long run
# spans days 1-31 (1- and 2-digit days) and stays ordered in event time
SLOT_SECONDS = 6 * 3600
OVERLAP = 0.25
BAD_EVERY = 100


def rfc1123(ts, rng):
    """`Fri, 1 Mar 2024 06:05:09 GMT` or `+0000`, day zero-padded or not."""
    day = str(ts.day) if ts.day >= 10 or rng.random() < 0.5 else f"{ts.day:02d}"
    zone = "GMT" if rng.random() < 0.5 else "+0000"
    return (f"{DAYS[ts.weekday()]}, {day} {MONTHS[ts.month - 1]} {ts.year} "
            f"{ts:%H:%M:%S} {zone}")


def name_run(rng):
    return " ".join([rng.choice(FIRST), rng.choice(LAST)][:rng.choice((1, 2, 2))])


def base_doc(rng):
    """A `documents`-style text: lowercase vocabulary words."""
    return [rng.choice(WORDS) for _ in range(rng.randint(8, 80))]


def varied(words, rng):
    """A replica of a base document: some words swapped, a name run and a
    keyword inserted — fresh text for a fresh guid."""
    out = [rng.choice(WORDS) if rng.random() < 0.2 else w for w in words]
    out.insert(rng.randrange(len(out) + 1), rng.choice(KEYWORDS))
    out.insert(rng.randrange(len(out) + 1), name_run(rng))
    return out


class FeedGen:
    """Snapshots for one seed; `entries` per snapshot, of which a quarter
    repeat the previous snapshot's."""

    def __init__(self, seed, entries):
        self.rng = random.Random(seed)
        self.seed = seed
        self.entries = entries
        self.docs = [base_doc(self.rng) for _ in range(500)]
        self.serial = 0
        self.prev = []

    def _entry(self, snap):
        rng = self.rng
        self.serial += 1
        doc = rng.choice(self.docs)
        title_words = varied(doc[:rng.randint(4, 10)], rng)
        ts = EPOCH + datetime.timedelta(
            seconds=snap * SLOT_SECONDS + rng.randrange(SLOT_SECONDS))
        feed = FEEDS[self.serial % len(FEEDS)]
        guid = f"https://news.example/{feed.lower()}/{self.seed}-{self.serial}"
        entry = {
            "title": " ".join(title_words),
            "published": rfc1123(ts, rng),
            "description": " ".join(varied(doc, rng)),
            "link": guid + ".html",
            "guid": guid,
            "feed": feed,
        }
        if rng.random() < 0.8:
            entry["media_thumbnail"] = guid + ".jpg"
        return guid, feed, json.dumps(entry, sort_keys=True)

    def _bad_line(self, snap, k):
        """A truncated JSON line or an entry with a null guid."""
        guid, feed, line = self._entry(snap)
        if k % 2 == 0:
            return feed, line[: len(line) // 2]
        return feed, line.replace(json.dumps(guid), "null")

    def snapshot(self, snap):
        """(feed, line) pairs and valid guids of snapshot `snap`; call in
        order 0, 1, ..."""
        keep = self.rng.sample(self.prev, int(len(self.prev) * OVERLAP)) \
            if self.prev else []
        fresh = [self._entry(snap) for _ in range(self.entries - len(keep))]
        good = keep + fresh
        lines = [(feed, line) for _, feed, line in good]
        for k in range(max(1, self.entries // BAD_EVERY)):
            lines.insert(self.rng.randrange(len(lines) + 1),
                         self._bad_line(snap, snap + k))
        self.prev = good
        return lines, [g for g, _, _ in good]


def write_snapshots(out_dir, seed, entries, count, per_feed):
    """Write `count` snapshots under `out_dir` as `snap-NNNNN` plus a
    `snap-NNNNN.guids` side file. With `per_feed` a snapshot is a directory
    holding one JSON-lines file per feed (one poll of the five feeds);
    otherwise it is a single JSON-lines file."""
    os.makedirs(out_dir, exist_ok=True)
    gen = FeedGen(seed, entries)
    for snap in range(count):
        lines, guids = gen.snapshot(snap)
        name = os.path.join(out_dir, f"snap-{snap:05d}")
        if per_feed:
            os.makedirs(name, exist_ok=True)
            for feed in FEEDS:
                with open(os.path.join(name, f"{feed.lower()}.json"), "w") as f:
                    f.write("".join(l + "\n" for fd, l in lines if fd == feed))
        else:
            with open(name + ".json", "w") as f:
                f.write("".join(l + "\n" for _, l in lines))
        with open(name + ".guids", "w") as f:
            f.write("".join(g + "\n" for g in guids))
