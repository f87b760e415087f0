"""The repository benchmark: CrawlRun and extraction workloads measured
end to end, plus a traced run for per-layer numbers. See README.md."""
