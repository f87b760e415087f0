"""The extract_pages workload: ``extract_documents`` over synthetic
production-shaped HTML (100-500 KB pages: head metadata, JSON-LD, style and
script blocks, nav/aside/footer link boilerplate around an article body of
real sentences). Half the domains use parser configs the benchmark writes;
the other half take the generic fallback config."""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import uuid
from .crawl_bench import CheckFailed
from .tracing import Tracer, rate

SENTENCES = (
    "The city council approved the new budget after a long debate on Tuesday night.",
    "Researchers found that the river's water quality improved steadily over the last decade.",
    "Shares of the company rose sharply in early trading before settling near their opening price.",
    "She said the project would take at least three more years to complete.",
    "Why did the committee wait so long to publish its findings?",
    "Local farmers expect a smaller harvest this year because of the dry spring.",
    "The museum will reopen in March with a larger collection of modern sculpture.",
    "Officials warned that the storm could bring heavy rain and strong winds to the coast.",
    "A spokesperson declined to comment on the details of the agreement.",
    "The team scored twice in the second half to secure its first win of the season.",
    "Engineers replaced the old bridge supports without closing the road to traffic.",
    "Many residents said they had never seen the lake so low.",
    "The report recommends hiring more teachers and reducing class sizes.",
    "Prices for fresh vegetables climbed for the third month in a row.",
    "Will the new rules make it easier for small businesses to compete?",
    "The festival drew more than forty thousand visitors over the weekend.",
    "Doctors urged people to get vaccinated before the winter season begins.",
    "The airline added two daily flights between the capital and the northern islands.",
    "Critics argued that the plan ignores the needs of rural communities.",
    "He grew up in a small village and moved to the city to study law.",
    "The library now lends tools, musical instruments and board games as well as books.",
    "Volunteers planted more than five hundred trees along the old railway line.",
    "The court is expected to announce its decision later this month.",
    "A new study suggests that short walks after meals can lower blood sugar.",
    "Construction of the stadium fell behind schedule after a dispute over costs.",
    "What happens to the old factory site remains an open question!",
    "The orchestra performed a program of works by three living composers.",
    "Students protested outside the ministry to demand lower tuition fees.",
    "The bakery on the corner has sold the same bread recipe since 1952.",
    "Investigators are still trying to determine the cause of the fire.",
    "The software update fixes several security problems and improves battery life.",
    "Fishermen reported unusually large catches of mackerel near the harbor.",
    "The mayor promised to publish the full contract once negotiations end.",
    "Rainfall this autumn was nearly twice the long-term average.",
    "Tickets for the concert sold out within minutes of going on sale.",
    "The hospital opened a new wing dedicated to children's care.",
    "Economists expect inflation to ease gradually over the coming year.",
    "The trail climbs steeply through pine forest before reaching the ridge.",
    "Parents welcomed the decision to keep the school open during repairs.",
    "The exhibition traces the history of printing from woodblocks to laser printers.",
)
WORDS = ("policy market river school energy health travel music science "
         "court budget harvest museum football storm housing transport").split()
CSS_RULE = (".c{i} {{ margin: {a}px {b}px; padding: {b}px; color: #{c:06x}; "
            "font-family: Helvetica, Arial, sans-serif; line-height: 1.{a}; }}\n")
JS_LINE = ("window.dataLayer = window.dataLayer || []; dataLayer.push({{'event': "
           "'view{i}', 'slot': {a}, 'ts': {c}}}); function f{i}(x) {{ return x * {b}; }}\n")


N_PAGES = 32
MIN_KB, MAX_KB = 100, 500
N_DOMAINS = 8  # half configured, half generic
N_SAMPLES = 8  # pages re-extracted in the driver by the check


def _domain(i: int) -> str:
    """news* domains have a parser config, blog* take the generic one."""
    k = i % N_DOMAINS
    return f"news{k}.example" if k < N_DOMAINS // 2 else f"blog{k}.example"


def write_configs(config_dir: str) -> int:
    """Per-domain parser configs in the reference layout
    (configs/<lang>/<letter>/<domain>.json) for the configured half."""
    n = 0
    for k in range(N_DOMAINS // 2):
        domain = f"news{k}.example"
        cfg = {
            "domain": domain, "lang": "en",
            "cleanup": ["script", "style", "nav", "aside", "footer", ".adv"],
            "title": {"selector": ["h1.post-title", "h1"]},
            "description": {"selector": ["meta[name=description]"],
                            "attribute": "content"},
            "authors": {"selector": ["a[rel=author]", ".byline a"], "all": True},
            "date_published": {"selector": ["time[datetime]"],
                               "attribute": "datetime"},
            "tags": {"selector": [".tags a"], "all": True},
            "follow_urls": {"selector": [".entry-content a"],
                            "attribute": "href", "all": True},
            "content": {"selector": [".entry-content", "article"],
                        "type": "html", "cleanup": [".related", "figure"]},
        }
        if k % 2:  # XPath selectors on every other configured domain
            cfg["title"] = {"selector": ["//h1", "h1.post-title"]}
            cfg["content"]["selector"] = ["//div[@class='entry-content']",
                                          ".entry-content"]
        path = os.path.join(config_dir, "en", domain[0], f"{domain}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(cfg, f, indent=1)
        n += 1
    return n


def _paragraph(rng: random.Random, domain: str) -> str:
    parts = []
    for _ in range(rng.randint(3, 8)):
        s = rng.choice(SENTENCES)
        r = rng.random()
        if r < 0.15:
            w = rng.choice(WORDS)
            s = (f'{s[:-1]} (see <a href="https://{domain}/{w}/{rng.randrange(10**6)}">'
                 f"the {w} report</a>){s[-1]}")
        elif r < 0.25:
            s = f"<strong>{s}</strong>"
        elif r < 0.3:
            s = f"<em>{s}</em>"
        parts.append(s)
    return "<p>" + " ".join(parts) + "</p>\n"


def make_page(rng: random.Random, i: int, size: int, domain: str, url: str) -> str:
    title = f"{rng.choice(SENTENCES)[:-1]} ({i})"
    author = (f"{rng.choice(['Ana', 'Ben', 'Chen', 'Dara', 'Eli'])} "
              f"{rng.choice(['Ruiz', 'Okoro', 'Berg', 'Ito'])}")
    day = f"2024-{1 + i % 12:02d}-{1 + i % 28:02d}"
    ld = json.dumps({"@context": "https://schema.org", "@type": "NewsArticle",
                     "headline": title, "datePublished": f"{day}T08:00:00Z",
                     "author": {"@type": "Person", "name": author},
                     "keywords": rng.sample(WORDS, 3)})
    css = "".join(CSS_RULE.format(i=j, a=rng.randrange(20), b=rng.randrange(40),
                                  c=rng.randrange(1 << 24))
                  for j in range(size // 6000 + 20))
    js = "".join(JS_LINE.format(i=j, a=rng.randrange(99), b=rng.randrange(9),
                                c=rng.randrange(10**9))
                 for j in range(size // 5000 + 20))
    nav = "".join(f'<li><a href="/section/{w}/{j}">{w.title()} {j}</a></li>'
                  for j, w in enumerate(rng.choices(WORDS, k=60)))
    head = (f'<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
            f"<title>{title}</title>"
            f'<meta name="description" content="{rng.choice(SENTENCES)}">'
            f'<meta name="author" content="{author}">'
            f'<meta property="og:title" content="{title}">'
            f'<meta property="og:image" content="https://{domain}/img/{i}.jpg">'
            f'<link rel="canonical" href="{url}">'
            f'<script type="application/ld+json">{ld}</script>'
            f"<style>{css}</style><script>{js}</script></head><body>"
            f'<header class="site-header"><nav class="main-nav"><ul>{nav}</ul>'
            f'</nav></header><div class="adv">Advertisement</div><main>'
            f'<article class="post"><h1 class="post-title">{title}</h1>'
            f'<div class="byline">By <a rel="author" href="/author/{i % 7}">'
            f'{author}</a> <time datetime="{day}T08:00:00Z">{day}</time></div>'
            f'<div class="entry-content">')
    tail = ("</div>"
            + '<div class="tags">' + "".join(
                f'<a rel="tag" href="/tag/{w}">{w}</a>'
                for w in rng.sample(WORDS, 4)) + "</div></article></main>"
            + '<aside class="sidebar"><ul>' + nav + "</ul></aside>"
            + f"<footer><p>Copyright {domain}.</p><ul>{nav}</ul></footer>"
            + f"<script>{js[:2000]}</script></body></html>")
    body, n = [], len(head) + len(tail)
    k = 0
    while n < size:
        k += 1
        if k % 9 == 0:
            block = f"<h2>{rng.choice(SENTENCES)[:-1]}</h2>\n"
        elif k % 13 == 0:
            block = ("<ul>" + "".join(f"<li>{rng.choice(SENTENCES)}</li>"
                                      for _ in range(4)) + "</ul>\n")
        elif k % 17 == 0:
            block = (f'<figure><img src="https://{domain}/img/{i}-{k}.jpg" '
                     f'alt="photo"><figcaption>{rng.choice(SENTENCES)}'
                     "</figcaption></figure>\n")
        elif k % 23 == 0:
            block = ('<div class="related">Related: <a href="/r/'
                     f'{k}">{rng.choice(SENTENCES)}</a></div>\n')
        else:
            block = _paragraph(rng, domain)
        body.append(block)
        n += len(block)
    return head + "".join(body) + tail


def make_pages(seed: int) -> list[tuple[str, str, str]]:
    """Page sizes are the same evenly spaced set for every seed (so runs
    of different seeds do the same amount of work); the seed drives
    everything inside the pages and which domain gets which size."""
    rng = random.Random(f"extract:{seed}")
    per_domain = -(-N_PAGES // N_DOMAINS)
    sizes = [[int(1024 * (MIN_KB + (MAX_KB - MIN_KB) * (j + 0.5) / per_domain))
              for j in range(per_domain)] for _ in range(N_DOMAINS)]
    for s in sizes:
        rng.shuffle(s)
    pages = []
    for i in range(N_PAGES):
        domain = _domain(i)
        url = f"https://{domain}/{seed}/article-{i}.html"
        size = sizes[i % N_DOMAINS][i // N_DOMAINS]
        pages.append((url, domain, make_page(rng, i, size, domain, url)))
    return pages


def input_frame(spark, pages, n_parts: int):
    """The input table, one partition per task, materialized before any
    timing. Pages are dealt in snake order by (configured domain first,
    size descending), so every task gets the same mix of config-driven
    and generic pages and about the same bytes."""
    order = sorted(range(len(pages)),
                   key=lambda i: (not pages[i][1].startswith("news"),
                                  -len(pages[i][2])))
    slices = [[] for _ in range(n_parts)]
    for j, i in enumerate(order):
        r = j % (2 * n_parts)
        slices[r if r < n_parts else 2 * n_parts - 1 - r].append(pages[i])
    # parallelize cuts the list into n_parts equal runs: one slice each
    rows = [p for s in slices for p in s]
    rdd = spark.sparkContext.parallelize(rows, n_parts)
    return spark.createDataFrame(
        rdd, "url string, domain string, raw_html string").localCheckpoint()


def expected_doc(html: str, url: str, domain: str, configs: dict) -> dict:
    """Driver-side reference: extract_article + the production chunker."""
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, doc_id_for_url, interleave_spans)
    from llm_scraper_spark.operators.extraction.pipeline import (
        config_for_domain, extract_article)

    rec = extract_article(html, url, config_for_domain(configs, domain),
                          "markdown")
    rec["doc_id"] = doc_id_for_url(url)
    rec["spans"] = interleave_spans(chunk_by_token_estimate(rec["content"]),
                                    rec["media_refs"])
    return rec


COMPARED = ("status", "title", "content", "authors", "follow_urls",
            "media_refs", "tags", "published_at", "doc_id")


def check_output(spark, out_dir: str, pages, configs: dict):
    from pyspark.sql import functions as F

    out = spark.read.parquet(out_dir)
    ids = {r["url"]: r["doc_id"] for r in out.select("url", "doc_id").collect()}
    if len(ids) != len(pages):
        raise CheckFailed(f"{len(pages) - len(ids)} of {len(pages)} pages "
                          f"missing from the extraction output")
    bad = [u for u, d in ids.items() if d != str(uuid.uuid5(uuid.NAMESPACE_URL, u))]
    if bad:
        raise CheckFailed(f"doc_id != uuid5(url) for {len(bad)} pages, e.g. {bad[0]}")
    sample = pages[::max(len(pages) // N_SAMPLES, 1)][:N_SAMPLES]
    rows = {r["url"]: r.asDict(recursive=True) for r in
            out.where(F.col("url").isin([u for u, _d, _h in sample])).collect()}
    for url, domain, html in sample:
        want = expected_doc(html, url, domain, configs)
        got = rows[url]
        for field in COMPARED:
            if (got[field] or None) != (want.get(field) or None):
                raise CheckFailed(f"{url}: field {field!r} differs from the "
                                  f"driver-side extract_article")
        if [tuple(s.values()) for s in got["spans"]] != \
                [tuple(s.values()) for s in want["spans"]]:
            raise CheckFailed(f"{url}: spans differ from the driver-side chunker")
    return sample


def run_workload(ctx) -> dict:
    from pyspark.sql import functions as F

    from llm_scraper_spark.operators.extraction.pipeline import (
        extract_documents, load_parser_configs)

    spark = ctx.spark
    config_dir = os.path.join(ctx.work, "configs")
    n_configs = write_configs(config_dir)
    configs = load_parser_configs(config_dir)
    with ctx.phase("inputs"):
        pages = make_pages(ctx.seed)
        raw = input_frame(spark, pages, 2 * ctx.nproc)
        # one page in one task: the pass's plan at a fraction of its cost
        warm = input_frame(spark, pages[:1], 1)
    in_mb = sum(len(h.encode("utf-8")) for _u, _d, h in pages) / 1e6
    out_dir = os.path.join(ctx.work, "extract_out")

    def one_pass(df) -> float:
        t0 = time.perf_counter()
        extract_documents(df, configs).write.mode("overwrite").parquet(out_dir)
        return time.perf_counter() - t0

    with ctx.phase("warm"):
        one_pass(warm)
    walls: list[float] = []
    while not walls or sum(walls) + statistics.median(walls) <= ctx.seconds:
        with ctx.phase("timed"), ctx.rss_sampler():
            walls.append(one_pass(raw))
        ctx.attempted += len(pages)
        n_out = spark.read.parquet(out_dir).count()
        ctx.failed += len(pages) - n_out
    with ctx.phase("check"):
        sample = check_output(spark, out_dir, pages, configs)
    urls_out = spark.read.parquet(out_dir).agg(
        F.sum(F.size("follow_urls") + F.size("media_refs")).alias("n")
    ).first()["n"]
    wall = statistics.median(walls)
    n = len(pages)
    metrics = {
        "wall_s": wall,
        "pages_per_s": n / wall,
        "extract_mb_per_s": in_mb / wall,
        "url_ops_per_s": (n + urls_out) / wall,
        # one extraction pass is this workload's only step: no seed
        # enqueue and no waves, so both report that pass
        "enqueue_urls_per_s": n / wall,
        "wave_p50_s": wall,
    }
    out = {"metrics": metrics,
           "detail": {"reps": len(walls), "rep_walls_s": walls,
                      "pages": n, "input_mb": in_mb, "n_configs": n_configs,
                      "urls_emitted": urls_out}}
    if ctx.trace:
        with ctx.phase("trace"):
            out["layers"] = trace_layers(ctx, pages, configs, out_dir, sample,
                                         wall, in_mb)
    return out


def trace_layers(ctx, pages, configs, out_dir, sample, untraced_wall,
                 in_mb) -> dict:
    """The traced run: one extraction pass with the Spark event log on,
    plus single-core rates of the worker-side functions on this
    workload's pages. Crawl-only layers are off this workload's path and
    report 0."""
    import pandas as pd
    from pyspark.sql import functions as F

    from llm_scraper_spark.functions.urls import canonicalize_batch
    from llm_scraper_spark.operators.chunker import (
        chunk_by_token_estimate, interleave_spans)
    from llm_scraper_spark.operators.extraction.pipeline import (
        config_for_domain, extract_article, extract_documents)

    spark, since_ms = ctx.start_traced_session()
    raw = input_frame(spark, pages, 2 * ctx.nproc)  # old session is gone
    tracer = Tracer(f"{ctx.workload}-seed{ctx.seed}")
    with tracer.span("extraction.extract_documents"):
        t0 = time.perf_counter()
        extract_documents(raw, configs).write.mode("overwrite").parquet(out_dir)
        wall = time.perf_counter() - t0
    window = (since_ms, time.time() * 1000.0)
    out = spark.read.parquet(out_dir)
    if out.count() != len(pages):
        raise CheckFailed("traced extraction pass lost pages")
    layers = {name: 0.0 for name in ctx.per_layer_names
              if name.startswith(("waves.", "state.", "seen.", "synthetic."))}
    layers["trace_overhead_frac"] = wall / untraced_wall - 1.0

    sample_mb = sum(len(h.encode("utf-8")) for _u, _d, h in sample) / 1e6
    pages_per_s = rate(
        lambda ps: [extract_article(h, u, config_for_domain(configs, d),
                                    "markdown") for u, d, h in ps], sample)
    mb_1core = pages_per_s * sample_mb / len(sample)
    layers["extraction.mb_per_s_1core"] = mb_1core
    layers["extraction.spark_efficiency"] = (
        (in_mb / untraced_wall) / (ctx.nproc * mb_1core))
    texts = [(r["content"], r["media_refs"]) for r in
             out.select("content", "media_refs").limit(32).collect()]
    layers["chunker.pages_per_s"] = rate(
        lambda d: [interleave_spans(chunk_by_token_estimate(c), m)
                   for c, m in d], texts)
    emitted = F.concat(F.array("url"), "follow_urls", "media_refs")
    urls = [r["u"] for r in out.select(F.explode(emitted).alias("u")).collect()]
    layers["urls.canonicalize_urls_per_s"] = rate(canonicalize_batch,
                                                  pd.Series(urls))
    tracer.write(os.path.join(ctx.work, f"spans-{ctx.workload}-seed{ctx.seed}.json"))
    layers.update(ctx.spark_layers(window, wall))
    return layers

