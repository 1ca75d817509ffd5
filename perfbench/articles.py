"""Seeded article generator for the pipeline workloads.

Lands arXiv / NYT / Google Scholar batches through the program's own
fetchers (``io.sources.fetch_*(..., transport=...)``) and keeps, next to
the landed files, a pure-Python model of what silver must hold
afterwards. The model replays the three silver strategies on the
generated rows:

- arXiv: watermark on ``updated_dt`` (``>=``), then MERGE on ``id`` that
  updates only when the incoming version is newer;
- NYT: append with an anti-join on ``sha2(id || publish_dt)``;
- Scholar: ``publish_dt`` derived from "N days ago" snippets, insert only
  rows strictly newer than the watermark (max ``publish_dt`` of the table).

Each daily batch mixes in rows that exercise those branches: arXiv ids
from earlier days with a version bump (update), with the same version
(matched, not updated) and with an old ``updated`` date (below the
watermark); NYT articles delivered again; Scholar snippets dated "N days
ago".
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import re

#: Clean-tech terms with the weights the gold stage scores them by (the
#: reference's scoring configuration, gold_article_scoring.py:104-136).
#: Kept here rather than imported so the output check does not trust the
#: program's copy.
TERM_WEIGHTS: dict[str, int] = {
    "climate": 20, "change": 4, "oxide": 1, "battery": 1, "electricity": 3,
    "abatement": 1, "emission": 1, "kyoto": 8, "ipcc": 20, "lithium": 15,
    "ion": 8, "photovoltaic": 25, "renewable": 8, "energy": 10, "solar": 8,
    "carbon": 5, "innovation": 20, "technology": 30, "clean": 9, "green": 14,
    "kilowatt": 4, "megawatt": 4, "polysilicon": 30, "biofuel": 40,
    "efficiency": 12, "fuel": 8, "tax": 4, "air": 2, "quality": 7,
    "bio": 8, "biogas": 12,
}

# Surface forms the generator writes: plurals ("batteries", "emissions")
# and punctuation exercise the lemma and cleaning steps of the gold chain.
_TERM_FORMS = sorted(TERM_WEIGHTS) + [
    "batteries", "emissions", "technologies", "innovations", "fuels",
    "efficiencies", "taxes", "oxides", "megawatts", "kilowatts",
]
_FILLER = (
    "grid market policy study model plant storage network cost price demand "
    "supply city region report analysis method result system design sample "
    "survey farm wind hydrogen nuclear coal gas oil heat pump vehicle "
    "transport building steel cement water land forest ocean data series "
    "trend growth impact risk investment finance project program capacity "
    "output yield rate index level scale unit process material layer cell "
    "module panel turbine rotor blade motor engine charger station"
).split()
_STOP = (
    "the and of to in for with on at by from is are was were this that "
    "these those it its as an be been which into over under than then"
).split()
_FLOURISH = ("RT ", "", "", "", "", "")

BASE_DATE = dt.date(2024, 1, 1)
#: silver's "N days ago" snippet pattern (silver.days_ago)
_DAYS_AGO = re.compile(r"^\s*(\d+)\s+days? ago")


def run_date(day: int) -> str:
    """YYYYMMDD of catch-up day ``day`` (1-based)."""
    return (BASE_DATE + dt.timedelta(days=day - 1)).strftime("%Y%m%d")


def _iso(date: dt.date) -> str:
    return date.isoformat()


def _sk(*parts: str) -> str:
    """sha2-256 over '||'-joined parts — silver's surrogate key."""
    return hashlib.sha256("||".join(parts).encode()).hexdigest()


class Text:
    """Seeded sentence maker; ``term_share`` is the share of content words
    drawn from the scored clean-tech vocabulary."""

    def __init__(self, rng: random.Random, term_share: float):
        self.rng = rng
        self.term_share = term_share

    def words(self, n: int) -> str:
        r = self.rng
        out = []
        for _ in range(n):
            x = r.random()
            if x < 0.25:
                out.append(r.choice(_STOP))
            elif x < 0.25 + 0.75 * self.term_share:
                out.append(r.choice(_TERM_FORMS))
            else:
                out.append(r.choice(_FILLER))
        # content words only would make every row score; a filler word
        # guarantees each text keeps at least one token after cleaning
        out.append(r.choice(_FILLER))
        if r.random() < 0.1:
            out.insert(r.randrange(len(out)), f"https://example.org/{r.randrange(10**6)}")
        if r.random() < 0.3:
            out[-1] += r.choice((".", ",", "!", ";", "%"))
        if r.random() < 0.2:
            out[0] = out[0].capitalize()
        return r.choice(_FLOURISH) + " ".join(out)


class ArticleModel:
    """Generates batches and tracks the silver state they must produce."""

    def __init__(self, seed: int, sizes: dict[str, int], term_share: float = 0.12):
        self.seed = seed
        self.sizes = sizes  # articles per day and source
        self.text = Text(random.Random(seed * 7919 + 1), term_share)
        self.rng = random.Random(seed)
        # silver model
        self.arxiv: dict[str, dict] = {}  # id -> row
        self.arxiv_wm: str | None = None
        self.nyt: dict[str, dict] = {}  # nyt_sk -> row
        self.nyt_delivered: list[dict] = []
        self.scholar: dict[str, dict] = {}  # ggl_sk -> row
        self.scholar_wm: str | None = None
        # landing bookkeeping
        self.landed_articles = 0
        self.landed_bytes = 0
        self.counts = {"arxiv_update": 0, "arxiv_same_version": 0,
                       "arxiv_below_watermark": 0, "nyt_redelivered": 0,
                       "scholar_days_ago": 0, "delivered": 0}
        self._next_arxiv = 0

    # -- batch construction ------------------------------------------------

    def _arxiv_batch(self, date: dt.date) -> list[dict]:
        r, n = self.rng, self.sizes["arxiv"]
        entries, used = [], set()
        known = list(self.arxiv)
        n_overlap = int(n * 0.25) if known else 0
        for k in range(n_overlap):
            aid = r.choice(known)
            if aid in used:
                continue
            used.add(aid)
            cur = self.arxiv[aid]
            kind = r.random()
            if kind < 0.7:  # version bump, dated today: the UPDATE branch
                version, upd = cur["version"] + 1, date
            elif kind < 0.85:  # same version again: matched, kept
                version, upd = cur["version"], date
            else:  # newer version but an old date: below the watermark
                version, upd = cur["version"] + 1, date - dt.timedelta(days=3)
            entries.append(self._arxiv_entry(aid, version, upd, k))
        while len(entries) < n:
            aid = f"{2400 + self._next_arxiv // 100000:04d}.{self._next_arxiv % 100000:05d}"
            self._next_arxiv += 1
            entries.append(self._arxiv_entry(aid, 1 + r.randrange(2), date, len(entries)))
        r.shuffle(entries)
        return entries

    def _arxiv_entry(self, aid: str, version: int, upd: dt.date, k: int) -> dict:
        return {
            "id": f"http://arxiv.org/abs/{aid}v{version}",
            "updated": f"{_iso(upd)}T{k % 24:02d}:{k % 60:02d}:00Z",
            "published": f"{_iso(upd)}T00:00:00Z",
            "title": self.text.words(6),
            "summary": self.text.words(28),
            "author": [{"name": f"Author {k % 97}"}],
        }

    def _nyt_batch(self, day: int, date: dt.date) -> list[dict]:
        r, n = self.rng, self.sizes["nyt"]
        docs = []
        if self.nyt_delivered:
            pool = r.sample(self.nyt_delivered, min(len(self.nyt_delivered), int(n * 0.15)))
            docs.extend(pool)
        base = len(self.nyt_delivered)
        for k in range(n - len(docs)):
            pub = date - dt.timedelta(days=r.randrange(3))
            doc = {
                "_id": f"nyt://article/{self.seed}-{day}-{base + k}",
                "abstract": self.text.words(18),
                "lead_paragraph": self.text.words(30),
                "snippet": self.text.words(12),
                "pub_date": f"{_iso(pub)}T{k % 24:02d}:00:00+0000",
                "document_type": "article",
                "multimedia": [{"url": f"img/{k}", "Url": f"IMG/{k}"}],
            }
            docs.append(doc)
        r.shuffle(docs)
        return docs

    def _scholar_batch(self, day: int, date: dt.date) -> list[dict]:
        r, n = self.rng, self.sizes["scholar"]
        results = []
        for k in range(n):
            ago = r.randrange(1, 6) if r.random() < 0.35 else 0
            prefix = f"{ago} days ago " if ago else ""
            results.append({
                "result_id": f"GS{self.seed}x{day}x{k}",
                "link": f"https://scholar.example.org/{day}/{k}",
                "title": self.text.words(7),
                "snippet": prefix + self.text.words(16),
                "position": k + 1,
                "publication_info": {"summary": f"Journal {k % 13}, {date.year}"},
            })
        return results

    # -- landing + model update ---------------------------------------------

    def land(self, day: int, landing_dir: str) -> dict:
        """Land day ``day``'s three batches through the program's fetchers
        and advance the silver model. Returns the articles and bytes
        landed, and how many silver rows the day inserts or updates."""
        from bc_proj3_spark.io import sources

        date = BASE_DATE + dt.timedelta(days=day - 1)
        rd = run_date(day)
        arx = self._arxiv_batch(date)
        nyt = self._nyt_batch(day, date)
        ggl = self._scholar_batch(day, date)
        epoch = 1_700_000_000 + day
        paths = [
            sources.fetch_arxiv(rd, landing_dir, epoch, transport=lambda _d: {"feed": {"entry": arx}}),
            sources.fetch_nyt(rd, landing_dir, epoch, transport=lambda _d: {"docs": nyt}),
            sources.fetch_scholar(rd, landing_dir, epoch, transport=lambda _d: {"organic_results": ggl}),
        ]
        nbytes = sum(os.path.getsize(p) for p in paths)
        self.landed_articles += len(arx) + len(nyt) + len(ggl)
        self.landed_bytes += nbytes
        self.counts["delivered"] += len(arx) + len(nyt) + len(ggl)
        new_rows = self._apply_arxiv(arx)
        new_rows += self._apply_nyt(nyt)
        new_rows += self._apply_scholar(ggl, date)
        return {"articles": len(arx) + len(nyt) + len(ggl), "bytes": nbytes,
                "new_silver_rows": new_rows}

    def _apply_arxiv(self, entries: list[dict]) -> int:
        wm, changed = self.arxiv_wm, 0
        for e in entries:
            aid, ver = e["id"].split("/")[4].split("v")
            ver = int(ver)
            upd = e["updated"][:10]
            row = {"id": aid, "version": ver, "updated_dt": upd,
                   "text": (e["summary"], e["title"])}
            if wm is None:
                self.arxiv[aid] = row
                changed += 1
                continue
            if upd < wm:
                self.counts["arxiv_below_watermark"] += 1
                continue
            cur = self.arxiv.get(aid)
            if cur is None:
                self.arxiv[aid] = row
                changed += 1
            elif ver > cur["version"]:
                self.arxiv[aid] = row
                self.counts["arxiv_update"] += 1
                changed += 1
            else:
                self.counts["arxiv_same_version"] += 1
        self.arxiv_wm = max(e["updated"][:10] for e in entries)
        return changed

    def _apply_nyt(self, docs: list[dict]) -> int:
        changed = 0
        for d in docs:
            pub = d["pub_date"][:10]
            key = _sk(d["_id"], pub)
            if key in self.nyt:
                self.counts["nyt_redelivered"] += 1
                continue
            self.nyt[key] = {"text": (d["abstract"], d["lead_paragraph"], d["snippet"])}
            self.nyt_delivered.append(d)
            changed += 1
        return changed

    def _apply_scholar(self, results: list[dict], date: dt.date) -> int:
        rows = []
        for res in results:
            m = _DAYS_AGO.match(res["snippet"])
            if m:
                self.counts["scholar_days_ago"] += 1
            pub = (date - dt.timedelta(days=int(m.group(1)))) if m else date
            rows.append((_sk(res["result_id"], _iso(pub)), _iso(pub),
                         (res["snippet"], res["title"])))
        wm, changed = self.scholar_wm, 0
        for key, pub, text in rows:
            if wm is None or pub > wm:
                self.scholar[key] = {"publish_dt": pub, "text": text}
                changed += 1
        self.scholar_wm = max(r["publish_dt"] for r in self.scholar.values())
        return changed

    # -- expectations ---------------------------------------------------------

    def expected_counts(self) -> dict[str, int]:
        return {"arxiv": len(self.arxiv), "nytarchive": len(self.nyt),
                "googlescholar": len(self.scholar)}

    def expected_versions(self) -> dict[str, int]:
        return {aid: row["version"] for aid, row in self.arxiv.items()}

    def gold_inputs(self):
        """(source_sk, text parts) of every silver row — gold's input."""
        for aid, row in self.arxiv.items():
            yield _sk(aid, str(row["version"]), row["updated_dt"]), row["text"]
        for key, row in self.nyt.items():
            yield key, row["text"]
        for key, row in self.scholar.items():
            yield key, row["text"]

    def input_stats(self) -> dict:
        d = max(1, self.counts["delivered"])
        return {
            "landed_articles": self.landed_articles,
            "landed_bytes": self.landed_bytes,
            "arxiv_update_rate": self.counts["arxiv_update"] / d,
            "arxiv_same_version_rate": self.counts["arxiv_same_version"] / d,
            "arxiv_below_watermark_rate": self.counts["arxiv_below_watermark"] / d,
            "nyt_redelivery_rate": self.counts["nyt_redelivered"] / d,
            "scholar_days_ago_rate": self.counts["scholar_days_ago"] / d,
        }
