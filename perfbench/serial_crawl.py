"""Stepwise serial crawl: the output oracle for the crawl workloads.

``etlpy_spark.crawl.oracle.crawl_oracle`` runs a whole crawl in one call.
The churn workload interleaves ``recrawl`` and ``forget`` batches between
rounds and picks each batch from the crawl state, so the benchmark needs
the same rule one round at a time. ``SerialCrawl.round`` is the loop body
of ``crawl_oracle`` unchanged (priority aging off); ``recrawl`` and
``forget`` mirror ``SparkCrawler.recrawl`` / ``SparkCrawler.forget``:

- recrawl: canonical, distinct urls that are not pending get fresh
  discovered_seq values in url order; the seen set is not touched;
- forget: urls in the seen set leave it, so a later link rediscovers them.

The benchmark's tests pin ``SerialCrawl`` without churn to ``crawl_oracle``.
"""

from __future__ import annotations

from etlpy_spark.crawl.oracle import OracleResult, url_host_of
from etlpy_spark.functions.imagecodec import decode_or_error, image_spec, phash64, sniff_format
from etlpy_spark.functions.url import canonicalize_url
from etlpy_spark.sources.synthetic_web import (
    WebConfig,
    fetch_image,
    host_round_budget,
    page,
    robots_allowed,
)


class SerialCrawl:
    def __init__(self, cfg: WebConfig):
        self.cfg = cfg
        self.res = OracleResult()
        self.frontier: list[tuple[str, int, int]] = []  # (url, priority, discovered_seq)
        self.seq = 0
        self.fetch_seq = 0

    def init_from_seeds(self, seeds: list[str]) -> None:
        for s in seeds:
            canon = canonicalize_url(s)
            if canon is None or canon in self.res.seen:
                continue
            self.res.seen[canon] = self.seq
            self.frontier.append((canon, self.cfg.priority(canon), self.seq))
            self.seq += 1

    def pending(self) -> set[str]:
        return {f[0] for f in self.frontier}

    def round(self) -> dict:
        cfg, res = self.cfg, self.res
        r = res.rounds_run
        res.rounds_run = r + 1
        frontier = self.frontier
        allowed = [f for f in frontier if robots_allowed(f[0], cfg)]
        by_host: dict[str, list] = {}
        for f in sorted(allowed, key=lambda f: (f[1], f[2])):
            by_host.setdefault(url_host_of(f[0]), []).append(f)
        selected, deferred = [], []
        for host, items in by_host.items():
            k = host_round_budget(host, cfg)
            selected.extend(items[:k])
            deferred.extend(items[k:])
        selected.sort(key=lambda f: (f[1], f[2]))

        new_frontier = []
        new_images = 0
        for url, _prio, _dseq in selected:
            res.crawl_log.append((self.fetch_seq, url))
            self.fetch_seq += 1
            pg = page(url, cfg)
            for link in pg["links"]:
                canon = canonicalize_url(link)
                if canon is None or canon in res.seen:
                    continue
                res.seen[canon] = self.seq
                new_frontier.append((canon, cfg.priority(canon), self.seq))
                self.seq += 1
            for image_id, caption in zip(pg["image_ids"], pg["captions"]):
                if image_id in res.images:
                    continue
                res.images[image_id] = _image_row(image_id, caption, cfg)
                new_images += 1
        m = {
            "round": r,
            "scheduled": len(frontier),
            "robots_blocked": len(frontier) - len(allowed),
            "fetched": len(selected),
            "deferred": len(deferred),
            "new_urls": len(new_frontier),
            "new_images": new_images,
        }
        res.metrics.append(m)
        self.frontier = deferred + new_frontier
        return m

    def recrawl(self, urls: list[str]) -> int:
        pending = self.pending()
        canon = {c for c in map(canonicalize_url, urls) if c is not None}
        fresh = sorted(canon - pending)
        for url in fresh:
            self.frontier.append((url, self.cfg.priority(url), self.seq))
            self.seq += 1
        return len(fresh)

    def forget(self, urls: list[str]) -> int:
        canon = {c for c in map(canonicalize_url, urls) if c is not None}
        hits = [u for u in canon if u in self.res.seen]
        for u in hits:
            del self.res.seen[u]
        return len(hits)


def _image_row(image_id: str, caption: str, cfg: WebConfig) -> dict:
    data = fetch_image(image_id, cfg)
    px, err = decode_or_error(data)
    if err is None:
        w, h, fmt = image_spec(image_id, cfg.seed, cfg.dim_scale, cfg.force_fmt)
        ph = phash64(px)
    else:
        w = h = ph = None
        fmt = sniff_format(data)
    return {"image_id": image_id, "w": w, "h": h, "fmt": fmt, "caption": caption,
            "phash": ph, "decode_error": err}
