"""Deterministic synthetic Common-Crawl-style corpus.

Schema (authoritative input shape, BASELINE.json input_hint):
    documents(url string, warc_ts timestamp, html binary,
              text string, lang string)

Every row is a pure function of (doc_id, seed) — generation is
DISTRIBUTED (mapInArrow over spark.range) so the same generator scales
from 100 pytest docs to bench corpora without a driver-side loop.

Engineered properties (FIXTURES.md §1):
- skewed hosts: ~30% of urls on one host, 15% on a second → exercises
  the url-keyed dedup shuffle under host skew;
- duplicates: doc_id % 13 == 5 re-crawls the previous doc's url with a
  later warc_ts and a content variant → exercises max_by(warc_ts) dedup;
- ~7% PDF-branch payloads (GRAFT-BLOCKS stand-in, see
  kernel/extract_pdf.py) with shuffled block emission order → exercises
  layout-aware x/y sort merge;
- ~4% windows-1251 pages → exercises charset sniffing;
- ~2% malformed (truncated HTML / real-PDF header) → error-skip path;
- article bodies embed validator targets (OGRN/INN/KPP/SNILS/date/
  email/phone per reference core/validators.py:25-76), OCR-style 0/8
  corruptions (core/correctors.py:220-243) and the seeded dictionary
  error "Маркуталь" (core/correctors.py:42-49).

The generator also returns the EXPECTED extracted text per doc,
computed independently of the kernel (from the known article parts) —
pytest asserts kernel == expected byte-wise, then asserts the Spark
pipeline == kernel. Golden fixtures per FIXTURES.md §5.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from ocr_service_spark.kernel.extract_pdf import PdfBlock, make_graft_pdf
from ocr_service_spark.kernel.htmlgen import render_page

__all__ = ["GenDoc", "gen_doc", "gen_docs", "corpus_df", "CORPUS_SCHEMA"]

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

_EN_WORDS = (
    "the quick brown fox jumps over a lazy dog while markets rally and "
    "analysts expect steady growth in regional trade figures this quarter "
    "despite headwinds from supply chains and energy prices"
).split()

_RU_WORDS = (
    "компания сообщила результаты квартала выручка выросла на процентов "
    "совет директоров утвердил отчет согласно документу регистрация "
    "произведена инспекцией города справка выдана заявителю основание "
    "приказ министерства экономического развития области"
).split()

_SURNAMES = ["Иванов", "Петров", "Сидоров", "Кузнецова", "Смирнов", "Волкова"]


@dataclass
class GenDoc:
    doc_id: int
    url: str
    warc_ts: datetime
    html: bytes
    lang: str
    kind: str  # html | pdf | malformed
    expected_text: str | None  # None => no byte-identity assertion


def _host(doc_id: int) -> str:
    r = doc_id % 100
    if r < 30:
        return "big0.example"
    if r < 45:
        return "big1.example"
    return f"host{(doc_id * 2654435761) % 997}.example"


def _seeded_fields(rng: random.Random) -> str:
    """One sentence carrying every validator-target field type."""
    ogrn = "".join(str(rng.randrange(10)) for _ in range(13))
    inn = "".join(str(rng.randrange(10)) for _ in range(10))
    kpp = "".join(str(rng.randrange(10)) for _ in range(9))
    snils = (
        f"{rng.randrange(100, 999)}-{rng.randrange(100, 999)}-"
        f"{rng.randrange(100, 999)} {rng.randrange(10, 99)}"
    )
    date = f"{rng.randrange(1, 28):02d}.{rng.randrange(1, 12):02d}.{rng.randrange(1990, 2025)}"
    email = f"user{rng.randrange(10 ** 4)}@mail{rng.randrange(99)}.example.com"
    phone = f"+7 ({rng.randrange(900, 999)}) {rng.randrange(100, 999)}-{rng.randrange(10, 99)}-{rng.randrange(10, 99)}"
    return (
        f"ОГРН {ogrn} ИНН {inn} КПП {kpp} СНИЛС {snils} от {date} "
        f"контакт {email} тел {phone}"
    )


def _sentence(rng: random.Random, words: list[str], n: int) -> str:
    return " ".join(rng.choice(words) for _ in range(n))


def _article(rng: random.Random, doc_id: int, lang: str, n_paras: int) -> list[str]:
    paras = []
    for p in range(n_paras):
        base = _RU_WORDS if lang == "ru" else _EN_WORDS
        s = _sentence(rng, base, rng.randrange(18, 40))
        if lang == "ru" and p == 1:
            # OCR-style corruption + seeded dict error + surname pattern
            surname = rng.choice(_SURNAMES)
            s += (
                f" г0род Маркуталь пл0щадь д8ор подпись {surname} И. О. "
                + _seeded_fields(rng)
            )
        paras.append(s)
    return paras


def _norm(s: str) -> str:
    return " ".join(s.split())


def gen_doc(doc_id: int, seed: int = 42) -> GenDoc:
    rng = random.Random((seed << 34) ^ (doc_id * 0x9E3779B97F4A7C15 % (1 << 61)))
    r = doc_id % 100
    host = _host(doc_id)
    url = f"https://{host}/art/{doc_id}"
    warc_ts = EPOCH + timedelta(seconds=(doc_id * 37) % 10_000_000)
    lang = "ru" if r % 5 < 3 else ("en" if r % 5 == 3 else "de")

    # duplicate re-crawl of the previous url (dedup target)
    is_dup = doc_id % 13 == 5 and doc_id > 0
    if is_dup:
        prev = gen_doc(doc_id - 1, seed)
        if prev.kind == "html":
            rng2 = random.Random(prev.doc_id ^ 0xD1B54A32D192ED03)
            extra = _sentence(rng2, _EN_WORDS, 30)
            paras = prev.expected_text.split("\n\n") + [extra] if prev.expected_text else [extra]
            heading, body = paras[0], paras[1:]
            html = render_page(f"recrawl {doc_id}", body, rng, heading=heading)
            expected = "\n\n".join([_norm(heading)] + [_norm(p) for p in body])
            return GenDoc(doc_id, prev.url, prev.warc_ts + timedelta(days=1),
                          html, prev.lang, "html", expected)
        # duplicate of a non-html doc: plain re-crawl, same payload
        return GenDoc(doc_id, prev.url, prev.warc_ts + timedelta(days=1),
                      prev.html, prev.lang, prev.kind, prev.expected_text)

    if r in (7, 57):  # malformed: truncated html
        paras = _article(rng, doc_id, lang, 4)
        full = render_page(f"broken {doc_id}", paras, rng, heading="Broken article heading")
        return GenDoc(doc_id, url, warc_ts, full[: len(full) // 3], lang, "malformed", None)
    if r == 91:  # real-PDF header → NotImplementedError path
        return GenDoc(doc_id, url, warc_ts, b"%PDF-1.4\n\xde\xad\xbe\xef binary stream", lang,
                      "malformed", None)

    if r % 15 == 9:  # PDF branch (~7%)
        n_pages = 1 + rng.randrange(3)
        blocks: list[PdfBlock] = []
        reading: list[tuple[int, int, int, str]] = []
        for page in range(1, n_pages + 1):
            for row in range(rng.randrange(3, 6)):
                y = 40 + row * 50 + rng.randrange(3)  # jitter within Y_BAND=4 rows? keep < band
                for colx in sorted(rng.sample(range(0, 500, 20), rng.randrange(1, 3))):
                    s = _sentence(rng, _EN_WORDS if lang != "ru" else _RU_WORDS,
                                  rng.randrange(4, 9))
                    blocks.append(PdfBlock(page=page, x=colx, y=y, w=200, h=40, text=s))
                    reading.append((page, y // 4, colx, s))
        emit = blocks[:]
        rng.shuffle(emit)  # emission order != layout order
        html = make_graft_pdf(emit)
        # expected: layout order (page, y band, x); join blocks \n, pages \n\n
        reading.sort()
        parts: list[str] = []
        prev_page = None
        for page, _, _, s in reading:
            if parts:
                parts.append("\n\n" if page != prev_page else "\n")
            parts.append(s)
            prev_page = page
        return GenDoc(doc_id, url, warc_ts, html, lang, "pdf", "".join(parts))

    charset = "windows-1251" if (lang == "ru" and r % 25 == 11) else "utf-8"
    n_paras = 3 + rng.randrange(4)
    paras = _article(rng, doc_id, lang, n_paras)
    heading = _sentence(rng, _EN_WORDS if lang != "ru" else _RU_WORDS, 6).capitalize()
    html = render_page(f"page {doc_id}", paras, rng, charset=charset, heading=heading)
    expected = "\n\n".join([_norm(heading)] + [_norm(p) for p in paras])
    return GenDoc(doc_id, url, warc_ts, html, lang, "html", expected)


def gen_docs(n: int, seed: int = 42) -> list[GenDoc]:
    return [gen_doc(i, seed) for i in range(n)]


CORPUS_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, "
    "text string, lang string"
)


def corpus_df(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus: spark.range → mapInPandas(gen). No driver
    loop, no collect — generation parallelism == input partitions."""
    import pandas as pd  # noqa: deferred for executor import

    def gen_batches(batches):
        for pdf in batches:
            rows = [gen_doc(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [d.doc_id for d in rows],
                    "url": [d.url for d in rows],
                    "warc_ts": [d.warc_ts.replace(tzinfo=None) for d in rows],
                    "html": [d.html for d in rows],
                    "text": [None] * len(rows),
                    "lang": [d.lang for d in rows],
                }
            )

    rng = spark.range(n_docs, numPartitions=partitions or max(8, spark.sparkContext.defaultParallelism))
    return rng.mapInPandas(gen_batches, schema=CORPUS_SCHEMA)


def ensure_bench_corpus(spark, path: str, n_docs: int,
                        partitions: int = 128) -> None:
    """Materialize the bench corpus at `path` unless a COMPLETE write
    is already there. Completeness is `<path>/_SUCCESS`, not bare
    existence: a bench child killed mid-write leaves the dir holding
    only `_temporary`, and a bare exists() check would then skip
    regeneration forever while every reader dies with
    UNABLE_TO_INFER_SCHEMA. Overwrite mode cleans the torn dir."""
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        corpus_df(spark, n_docs, partitions=partitions).write.mode(
            "overwrite").parquet(path)
