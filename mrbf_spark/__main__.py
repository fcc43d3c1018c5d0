"""CLI entry points — the reference's four spark-submit jobs
(§2.10: split-dataset, count-number-of-keys, bloomfilters_builder,
bloomfilters_tester — sh-scripts/0..3) generalized to arbitrary
parquet inputs and key/value columns.

    python -m mrbf_spark split --input T.parquet --out-train A --out-test B
    python -m mrbf_spark linecount --input A --key rating --out C
    python -m mrbf_spark build --input A --key rating --value movieId -p 0.01 --out F
    python -m mrbf_spark test --input B --filters F --key rating --value movieId --out R
    python -m mrbf_spark pipeline --input T.parquet --key rating --value movieId -p 0.01
    python -m mrbf_spark pipeline --input T.parquet --key rating --value movieId -p 0.01,0.05,0.1

Training-data jobs (r4 extensions, not in the reference):

    python -m mrbf_spark shard --input docs.parquet --n-shards 64 --out shards/
    python -m mrbf_spark dedup-inc --input new.parquet --index fp_index.parquet --out statuses/
    python -m mrbf_spark dedup-inc --input new.parquet --history corpus.parquet --out statuses/
    python -m mrbf_spark profile --input any.parquet [--approx]
    python -m mrbf_spark validate --input events.parquet --dim customer.parquet  # exit 1 on failure
    python -m mrbf_spark diff --old v1.parquet --new v2.parquet --pk doc_id --out d/

Data-layout / sketch / curation jobs (r5):

    python -m mrbf_spark zorder --input t.parquet --out z/ --cols x,y --files 64
    python -m mrbf_spark compact --input small_files/ --out c/ --target-mb 128
    python -m mrbf_spark sketch --input events.parquet --kind {kmv,cms,qtl,hh}
    python -m mrbf_spark report --input docs.parquet          # corpus quality report
    python -m mrbf_spark split-safe --input docs.parquet --out splits/
    python -m mrbf_spark merge --target t/ --source inc/ --pk doc_id --out m/
    python -m mrbf_spark semdedup --input emb.parquet --out verdicts/ --centroids kmeans
    python -m mrbf_spark ann-index --input emb.parquet --out idx/ --centroids kmeans
    python -m mrbf_spark ann-query --index idx/ --input queries.parquet --topk 5
    python -m mrbf_spark curate --input docs.parquet --out curated/ --eval eval.parquet
    python -m mrbf_spark bpe-train --input docs.parquet --out merges/ --merges 200
    python -m mrbf_spark lm-train --input wiki.parquet --out lm/
    python -m mrbf_spark lm-score --input crawl.parquet --model lm/ --out scores/
    python -m mrbf_spark cut-spans --input docs.parquet --out cleaned/ --k 16
    python -m mrbf_spark dsir --input docs.parquet --target "lang = 'en'" --out sel/

`pipeline` runs the whole four-job sequence in one Spark application
(what the reference needs four spark-submits + a getmerge for); with a
comma list of p values it sweeps them in one app (the reference's
sh-scripts/{2,3}{a,b}.sh loops) and prints the report's §6-style
accuracy table.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark(args):
    from .session import get_spark

    return get_spark(f"mrbf-{args.cmd}")


def cmd_split(args) -> None:
    from .bloom.pipeline import train_test_split

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    train, test = train_test_split(df, (args.train_frac, 1 - args.train_frac), args.seed)
    train.write.mode("overwrite").parquet(args.out_train)
    test.write.mode("overwrite").parquet(args.out_test)
    print(f"split: {train.count()} train / {test.count()} test rows")


def cmd_linecount(args) -> None:
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    counts = df.groupBy(F.col(args.key).alias("key")).count()
    counts.write.mode("overwrite").parquet(args.out)
    print(f"linecount: {counts.count()} keys")


def cmd_build(args) -> None:
    from .bloom import build_bloom_filters

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    filters = build_bloom_filters(
        df, args.key, args.value, args.p, flavor=args.hash_flavor
    )
    filters.write.mode("overwrite").parquet(args.out)
    print(f"build: {filters.count()} filters (p={args.p}, {args.hash_flavor})")


def cmd_test(args) -> None:
    from .bloom import fp_report, probe_bloom_filters

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    filters = spark.read.parquet(args.filters)
    probed = probe_bloom_filters(
        df, args.key, args.value, filters, flavor=args.hash_flavor
    )
    report = fp_report(probed, args.key)
    report.write.mode("overwrite").parquet(args.out)
    for r in sorted(report.collect(), key=lambda r: r["key"]):
        print(f"{r['key']}\t{r['false_positives']}\t{r['total_tests']}\t{r['fp_rate']:.8f}")


def cmd_pipeline(args) -> None:
    from .bloom.pipeline import bloom_fp_pipeline, bloom_fp_sweep

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    ps = [float(x) for x in str(args.p).split(",") if x]
    if len(ps) == 1:
        report = bloom_fp_pipeline(df, args.key, args.value, p=ps[0], seed=args.seed)
        if args.out:
            report.write.mode("overwrite").parquet(args.out)
        for r in sorted(report.collect(), key=lambda r: r["key"]):
            print(
                f"{r['key']}\t{r['false_positives']}\t{r['total_tests']}\t{r['fp_rate']:.8f}"
            )
        return
    # p-sweep: the reference's sh-scripts/{2,3}{a,b}.sh loops in one
    # app; print the report's §6 accuracy-table shape (key rows, one
    # fp_rate column per p, plus the avg row).
    report = bloom_fp_sweep(df, args.key, args.value, ps, seed=args.seed)
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
    rows = report.collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["key"], {})[r["p"]] = r
    header = ["key"] + [f"p={p:g}" for p in ps]
    print("\t".join(header))
    for key in sorted(by_key):
        cells = [str(key)] + [f"{by_key[key][p]['fp_rate']:.8f}" for p in ps]
        print("\t".join(cells))
    avgs = []
    for p in ps:
        fp = sum(r["false_positives"] for r in rows if r["p"] == p)
        n = sum(r["total_tests"] for r in rows if r["p"] == p)
        avgs.append(f"{(fp / n if n else 0.0):.8f}")
    print("\t".join(["avg"] + avgs))


def cmd_shard(args) -> None:
    from .functions.sampling import write_shuffled_shards

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    write_shuffled_shards(df, args.id_col, args.out, n_shards=args.n_shards)
    print(f"shard: wrote {args.n_shards} shards to {args.out}")


def cmd_dedup_inc(args) -> None:
    from .functions.dedup import incremental_dedup
    from .functions.text import fingerprint_col

    spark = _spark(args)
    new_docs = spark.read.parquet(args.input)
    if args.index:
        index = spark.read.parquet(args.index)
    else:
        # bootstrap: derive the index from a history corpus path
        hist = spark.read.parquet(args.history)
        index = (
            hist.select(
                fingerprint_col(F.col(args.text_col)).alias("fingerprint"),
                F.col(args.id_col).alias("doc_id"),
            )
            .groupBy("fingerprint")
            .agg(F.min("doc_id").alias("hist_id"))
        )
    out = incremental_dedup(
        index,
        new_docs.select(
            F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
        ),
    )
    out.write.mode("overwrite").parquet(args.out)
    for r in out.groupBy("status").count().collect():
        print(f"{r['status']}\t{r['count']}")


def cmd_profile(args) -> None:
    from .functions.validation import profile_table

    spark = _spark(args)
    prof = profile_table(
        spark.read.parquet(args.input), approx_distinct=args.approx
    )
    if args.out:
        # cache around the two actions so the profile aggregate runs
        # once, not once per action (ADVICE r4)
        prof = prof.cache()
        prof.write.mode("overwrite").parquet(args.out)
    for r in prof.collect():
        print(
            f"{r['column']}\t{r['dtype']}\tn={r['n']}\tnulls={r['nulls']}"
            f"\tdistinct={r['n_distinct']}\tmin_q={r['min_q']}"
            f"\tmax_q={r['max_q']}\tavg_len_q={r['avg_len_q']}"
        )


def cmd_validate(args) -> int:
    from .functions.validation import validate_events

    spark = _spark(args)
    report = validate_events(
        spark.read.parquet(args.input), spark.read.parquet(args.dim)
    )
    rows = report.collect()
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
    failed = 0
    for r in rows:
        mark = "ok" if r["ok"] else "FAIL"
        failed += 0 if r["ok"] else 1
        print(f"{mark}\t{r['check']}\tviolations={r['violations']}")
    # CI-gate semantics: nonzero exit when any constraint fails
    return 1 if failed else 0


def cmd_diff(args) -> None:
    from .functions.diffing import snapshot_diff

    spark = _spark(args)
    d = snapshot_diff(
        spark.read.parquet(args.old), spark.read.parquet(args.new), args.pk
    )
    if args.out:
        # cache around the two actions so the diff's full-outer join
        # runs once, not once per action (ADVICE r4)
        d = d.cache()
        d.write.mode("overwrite").parquet(args.out)
    for r in d.groupBy("status").count().orderBy("status").collect():
        print(f"{r['status']}\t{r['count']}")


def cmd_rollup_build(args) -> None:
    """Materialize the per-key rollup once; `rollup-maintain` then
    refreshes it from snapshot deltas without full recomputation."""
    from .functions.rollup import rollup_base

    spark = _spark(args)
    base = rollup_base(
        spark.read.parquet(args.input), args.keys.split(","), args.value
    )
    base.write.mode("overwrite").parquet(args.out)
    print(f"rollup-build: {spark.read.parquet(args.out).count()} groups -> {args.out}")


def cmd_rollup_maintain(args) -> None:
    """Refresh a persisted rollup from an old->new snapshot pair:
    pk-level diff -> per-key delta -> merge into the base (dirty-key
    min/max rescan only); never recomputes clean groups."""
    from .functions.rollup import rollup_maintain

    from pyspark.sql import functions as F

    spark = _spark(args)
    keys = args.keys.split(",")
    rp = None
    if args.rescan_partition:
        pcol, pexpr = args.rescan_partition.split(":", 1)
        rp = (pcol, F.expr(pexpr))
    out = rollup_maintain(
        spark.read.parquet(args.old),
        spark.read.parquet(args.new),
        args.pk,
        keys,
        args.value,
        base=spark.read.parquet(args.base) if args.base else None,
        rescan_partition=rp,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(
        f"rollup-maintain: {spark.read.parquet(args.out).count()} groups -> {args.out}"
    )


def cmd_report(args) -> None:
    """One-command corpus quality report: composes the curation
    signals (size census, exact-dup rate, language mix, Gopher pass
    rate, PII density, repetition) into a (metric, value) table — ONE
    scan for all per-doc signals plus the fingerprint dedup aggregate."""
    from pyspark.sql import functions as F

    from .functions.quality_rules import quality_rules
    from .functions.text import (
        fingerprint_col,
        lang_guess_col,
        redact_pii_cols,
        token_count_col,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    _, pii_counts = redact_pii_cols(F.col("text"))
    per_doc = quality_rules(
        docs.select("doc_id", "text"),
        extra=[
            token_count_col(F.col("text")).alias("__n_tok"),
            F.length("text").alias("__n_chars"),
            fingerprint_col(F.col("text")).alias("__fp"),
            lang_guess_col(),
            sum(pii_counts[1:], pii_counts[0]).alias("__pii_hits"),
        ],
    )
    # SUM over zero rows is NULL, not 0 — coalesce so an empty corpus
    # prints a zeroed report instead of TypeError on float(None)
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("docs"),
        z(F.sum("__n_tok")).alias("tokens"),
        z(F.sum("__n_chars")).alias("chars"),
        F.count_distinct(F.col("__fp")).alias("distinct_fps"),
        z(F.sum(F.col("gopher_pass").cast("long"))).alias("gopher_pass"),
        z(F.sum("__pii_hits")).alias("pii_hits"),
        *[
            z(F.sum((F.col("lang_guess") == l).cast("long"))).alias(f"lang_{l}")
            for l in ("en", "de", "es")
        ],
    ).collect()[0]
    rows = [
        ("docs", float(agg["docs"])),
        ("tokens", float(agg["tokens"])),
        ("chars", float(agg["chars"])),
        ("mean_doc_tokens", agg["tokens"] / max(agg["docs"], 1)),
        (
            "exact_dup_rate",
            1.0 - agg["distinct_fps"] / agg["docs"] if agg["docs"] else 0.0,
        ),
        ("gopher_pass_rate", agg["gopher_pass"] / max(agg["docs"], 1)),
        ("pii_hits_per_doc", agg["pii_hits"] / max(agg["docs"], 1)),
        *[
            (f"lang_{l}_frac", agg[f"lang_{l}"] / max(agg["docs"], 1))
            for l in ("en", "de", "es")
        ],
    ]
    if args.out:
        report = spark.createDataFrame(rows, "metric string, value double")
        report.coalesce(1).write.mode("overwrite").parquet(args.out)
    for m, v in rows:
        print(f"{m}\t{v:.6g}")


def cmd_merge(args) -> None:
    from pyspark.sql import functions as F

    from .functions.diffing import merge_upsert, merge_upsert_partitioned

    spark = _spark(args)
    if args.bucketed:
        # in-place partition-scoped merge into a bucketed target dir
        touched = merge_upsert_partitioned(
            spark,
            args.target,
            spark.read.parquet(args.source),
            args.pk,
            n_buckets=args.buckets,
            delete_missing=args.delete_missing,
        )
        print(f"merged in place; touched buckets: {touched}")
        return
    merged = merge_upsert(
        spark.read.parquet(args.target),
        spark.read.parquet(args.source),
        args.pk,
        delete_missing=args.delete_missing,
    ).cache()  # one join feeds both the write and the census
    if args.out:
        (
            merged.filter(F.col("__action") != "delete")
            .drop("__action")
            .write.mode("overwrite")
            .parquet(args.out)
        )
    for r in (
        merged.groupBy("__action").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("__action").collect()
    ):
        print(f"{r['__action']}\t{r['n']}")


def cmd_split_safe(args) -> None:
    from pyspark.sql import functions as F

    from .functions.dedup import leakage_safe_split

    spark = _spark(args)
    split = leakage_safe_split(spark.read.parquet(args.input))
    if args.out:
        (
            split.write.mode("overwrite")
            .partitionBy("split")
            .parquet(args.out)
        )
    for r in (
        split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).orderBy("split").collect()
    ):
        print(f"{r['split']}\t{r['n']}")


def cmd_sketch(args) -> None:
    from .functions.sketches import (
        bottomk_sample,
        cms_counters,
        cms_heavy_hitters,
        cms_probe,
        kmv_estimate,
        kmv_sketch,
        sample_median,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.kind == "hh":
        from pyspark.sql import functions as F

        hh = cms_heavy_hitters(df, args.item, args.min_count)
        if args.out:
            hh = hh.cache()
            hh.write.mode("overwrite").parquet(args.out)
        for r in hh.orderBy(F.desc("n"), "item").collect():
            print(f"{r['item']}\tn={r['n']}")
    elif args.kind == "qtl":
        from pyspark.sql import functions as F

        med = sample_median(
            bottomk_sample(df, args.group, args.value, F.col(args.key))
        )
        if args.out:
            # cache around the two actions (the cmd_profile pattern)
            med = med.cache()
            med.write.mode("overwrite").parquet(args.out)
        for r in med.orderBy("grp").collect():
            print(f"{r['grp']}\tmedian~{r['est']:.6g}")
    elif args.kind == "kmv":
        est = kmv_estimate(kmv_sketch(df, args.group, args.item))
        if args.out:
            est.write.mode("overwrite").parquet(args.out)
        for r in est.orderBy("grp").collect():
            print(f"{r['grp']}\tdistinct~{r['est']:.1f}\t(k={r['kmv_n']})")
    else:  # cms
        from pyspark.sql import functions as F

        grid = cms_counters(df, args.item)
        top = (
            df.groupBy(F.col(args.item).cast("string").alias("item"))
            .agg(F.count(F.lit(1)).alias("true_n"))
            .orderBy(F.desc("true_n"), F.asc("item"))
            .limit(args.topn)
        )
        probed = cms_probe(grid, top).join(top, "item")
        if args.out:
            grid.write.mode("overwrite").parquet(args.out)
        for r in probed.orderBy(F.desc("true_n"), "item").collect():
            print(f"{r['item']}\tcms~{r['cms_n']}\ttrue={r['true_n']}")


def cmd_zorder(args) -> None:
    from .functions.layout import write_hilbert, write_zordered

    parts = [c.strip() for c in args.cols.split(",") if c.strip()]
    if len(parts) < 2:
        raise SystemExit(f"zorder: --cols needs ≥2 columns, got {args.cols!r}")
    if args.curve == "hilbert" and len(parts) != 2:
        raise SystemExit("zorder: --curve hilbert supports exactly two columns")
    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.curve == "hilbert":
        write_hilbert(df, args.out, parts[0], parts[1], n_files=args.files)
    else:
        write_zordered(df, args.out, *parts, n_files=args.files)
    print(
        f"{args.curve}-clustered {args.input} by ({','.join(parts)}) "
        f"into {args.files} files at {args.out}"
    )


def cmd_compact(args) -> None:
    from .functions.layout import compact_to_target

    spark = _spark(args)
    n = compact_to_target(
        spark.read.parquet(args.input), args.out, target_bytes=args.target_mb << 20
    )
    print(f"compacted {args.input} -> {n} file(s) at {args.out}")


def cmd_semdedup(args) -> None:
    from .functions.similarity import kmeans_fit, semdedup_verdicts
    from .registry import release_scoped_caches

    spark = _spark(args)
    emb = spark.read.parquet(args.input)
    cents = (
        kmeans_fit(emb, k=args.k, iters=args.iters)
        if args.centroids == "kmeans"
        else None
    )
    verdicts = semdedup_verdicts(emb, tau=args.tau, centroids=cents)
    verdicts.write.mode("overwrite").parquet(args.out)
    release_scoped_caches()
    out = spark.read.parquet(args.out)
    n = out.count()
    kept = out.filter("keep").count()
    print(
        f"semdedup({args.centroids} centroids, tau={args.tau}): "
        f"{n} vectors, kept {kept}, dropped {n - kept} -> {args.out}"
    )


def cmd_curate(args) -> None:
    from .functions.curate import curate_corpus
    from .registry import release_scoped_caches

    spark = _spark(args)
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    docs = spark.read.parquet(args.input)
    eval_docs = spark.read.parquet(args.eval) if args.eval else None
    weights = None
    if args.classifier_weights:
        rows = spark.read.parquet(args.classifier_weights).orderBy("pos").collect()
        weights = [int(r["val"]) for r in rows]
    curated, census = curate_corpus(
        docs,
        eval_docs,
        lang=args.lang or None,
        min_tokens=args.min_tokens,
        jaccard_tau=args.jaccard_tau,
        neardup_keeper=args.neardup_keeper,
        repetition=args.repetition,
        semantic=not args.no_semantic,
        decontam_action=args.decontam_action,
        classifier_weights=weights,
    )
    curated.write.mode("overwrite").parquet(args.out)
    if args.shards:
        from .functions.sampling import write_shuffled_shards

        write_shuffled_shards(
            spark.read.parquet(args.out), "doc_id",
            args.out.rstrip("/") + "_shards", n_shards=args.shards,
        )
    release_scoped_caches()
    prev = None
    for stage, n in census:
        if stage == "decontaminate_cut":
            # the cut stage counts docs rewritten, not survivors
            print(f"{stage}\t{n} docs cut, none dropped")
            continue
        drop = f"  (-{prev - n})" if prev is not None else ""
        print(f"{stage}\t{n}{drop}")
        prev = n
    print(f"curated corpus -> {args.out}"
          + (f" + {args.shards} shards" if args.shards else ""))


def cmd_dsir(args) -> None:
    from .functions.dsir import dsir_select
    from .registry import release_scoped_caches

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    target = F.expr(args.target)
    out = dsir_select(docs, target, b=args.buckets)
    out.write.mode("overwrite").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .selectExpr("count(*) AS n", "sum(selected) AS kept")
        .collect()[0]
    )
    print(
        f"dsir: {stats['n']} raw docs scored, {stats['kept']} selected "
        f"-> {args.out}"
    )
    release_scoped_caches()


def cmd_cut_spans(args) -> None:
    from .functions.substring_dedup import remove_dup_spans
    from .registry import release_scoped_caches

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    out = remove_dup_spans(docs, k=args.k)
    out.write.mode("overwrite").parquet(args.out)
    stats = (
        spark.read.parquet(args.out)
        .selectExpr(
            "count(*) AS docs",
            "sum(n_removed) AS removed",
            "sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS touched",
        )
        .collect()[0]
    )
    print(
        f"cut-spans: {stats['docs']} docs, {stats['touched']} touched, "
        f"{stats['removed']} tokens removed -> {args.out}"
    )
    release_scoped_caches()


def cmd_bpe_encode(args) -> None:
    from .functions.bpe import bpe_encode

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    merges = [
        (int(r["rank"]), r["a"], r["b"], int(r["pair_count"]))
        for r in spark.read.parquet(args.merges).orderBy("rank").collect()
    ]
    bpe_encode(docs, merges, text_col=args.text_col).write.mode(
        "overwrite"
    ).parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"bpe-encode: {n} docs under {len(merges)} merges -> {args.out}")


def cmd_lm_train(args) -> None:
    from .functions.lm import train_bigram_lm

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    model, vocab = train_bigram_lm(docs)
    model.write.mode("overwrite").parquet(args.out + "/model")
    spark.createDataFrame([(int(vocab),)], "v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(args.out + "/meta")
    n = spark.read.parquet(args.out + "/model").count()
    print(f"lm-train: {n} bigrams, V={vocab} -> {args.out}")


def cmd_lm_score(args) -> None:
    from .functions.lm import score_with_model

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    model = spark.read.parquet(args.model + "/model")
    vocab = int(spark.read.parquet(args.model + "/meta").collect()[0]["v"])
    out = score_with_model(docs, model, vocab)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"lm-score: -> {args.out}")
    else:
        for r in out.orderBy(F.col("cross_entropy").desc()).limit(20).collect():
            print(f"{r['doc_id']}\t{r['cross_entropy']:.6f}")


def cmd_bpe_train(args) -> None:
    from .functions.bpe import bpe_encode, bpe_train
    from .registry import release_scoped_caches

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    merges = bpe_train(
        docs, num_merges=args.merges, min_pair_count=args.min_count,
        text_col=args.text_col,
    )
    spark.createDataFrame(
        merges, "rank int, a string, b string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(args.out)
    print(f"bpe-train: {len(merges)} merges -> {args.out}")
    for rank, a, b, n in merges[: min(10, len(merges))]:
        print(f"  {rank}\t{a!r} + {b!r}\t({n})")
    if args.encode_out:
        bpe_encode(docs, merges, text_col=args.text_col).write.mode(
            "overwrite"
        ).parquet(args.encode_out)
        print(f"bpe-train: encoded corpus -> {args.encode_out}")
    release_scoped_caches()


def cmd_ann_index(args) -> None:
    from .functions.ann_index import write_ann_index

    spark = _spark(args)
    emb = spark.read.parquet(args.input)
    cent = write_ann_index(
        emb, args.out, k=args.k, use_kmeans=(args.centroids == "kmeans"),
        iters=args.iters,
    )
    print(
        f"ann-index: {len(cent)} cells ({args.centroids} centroids) -> {args.out}"
    )


def cmd_curate_inc(args) -> None:
    from .functions.curate import curate_increment
    from .registry import release_scoped_caches

    spark = _spark(args)
    new_docs = spark.read.parquet(args.input)
    history = spark.read.parquet(args.history) if args.history else None
    eval_docs = spark.read.parquet(args.eval) if args.eval else None
    survivors, census = curate_increment(
        new_docs,
        history,
        eval_docs,
        lang=args.lang or None,
        jaccard_tau=args.jaccard_tau,
        history_index=args.history_index,
    )
    survivors.write.mode("overwrite").parquet(args.out)
    release_scoped_caches()
    prev = None
    for stage, n in census:
        drop = f"  (-{prev - n})" if prev is not None else ""
        print(f"curate-inc: {stage}\t{n}{drop}")
        prev = n


def cmd_curate_index_build(args) -> None:
    from .functions.curate import curate_index_build

    spark = _spark(args)
    report = curate_index_build(spark.read.parquet(args.history), args.out)
    for k, v in report.items():
        print(f"curate-index-build: {k}\t{v}")


def cmd_quality_train(args) -> None:
    from .functions.quality_classifier import qlr_train
    from .registry import release_scoped_caches

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    w = qlr_train(docs, F.expr(args.label))
    spark.createDataFrame(
        [(i, int(wj)) for i, wj in enumerate(w)], "pos int, val long"
    ).coalesce(1).write.mode("overwrite").parquet(args.out)
    release_scoped_caches()
    nz = sum(1 for wj in w if wj)
    print(f"quality-train: {len(w)} weights ({nz} nonzero) -> {args.out}")


def cmd_quality_score(args) -> None:
    from .functions.quality_classifier import qlr_eval, qlr_score
    from .registry import release_scoped_caches

    spark = _spark(args)
    rows = spark.read.parquet(args.model).orderBy("pos").collect()
    w = [int(r["val"]) for r in rows]
    docs = spark.read.parquet(args.input)
    out = qlr_score(docs, w)
    out.write.mode("overwrite").parquet(args.out)
    res = spark.read.parquet(args.out)
    kept = res.filter("pred = 1").count()
    print(f"quality-score: {kept}/{res.count()} docs pass -> {args.out}")
    if args.eval_label:
        report = qlr_eval(docs, w, F.expr(args.eval_label)).collect()
        release_scoped_caches()
        for r in sorted(
            (r for r in report if r["outcome"] != "auc"),
            key=lambda r: (r["k"], r["outcome"]),
        ):
            print(
                f"quality-eval: thr={r['thr']}\t{r['outcome']}={r['cnt']}"
            )
        auc = next(r for r in report if r["outcome"] == "auc")
        print(
            f"quality-eval: auc={auc['auc']}"
            f" ({auc['auc_num']}/{auc['auc_den']})"
        )


def cmd_ann_append(args) -> None:
    from .functions.ann_index import ann_index_append, pq_index_append

    spark = _spark(args)
    inc = spark.read.parquet(args.input)
    fn = pq_index_append if args.kind == "pq" else ann_index_append
    rep = fn(spark, args.index, inc)
    print(
        f"ann-append[{rep['index']}]: +{rep['n_appended']} vectors "
        f"(build {rep['n_build']}); quality {rep['mean_q_appended']:.4f} "
        f"vs build {rep['mean_q_build']:.4f} (drop {rep['mean_q_drop']:+.4f})"
    )
    if rep["rebuild_recommended"]:
        print(
            "ann-append: WARNING — quality drop exceeds the rebuild "
            "threshold; the frozen quantizer no longer fits this data. "
            "Rebuild with ann-index."
        )


def cmd_ann_query(args) -> None:
    from .functions.ann_index import ann_index_probe

    spark = _spark(args)
    queries = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("query_id"), args.emb_col
    )
    if args.emb_col != "embedding":
        queries = queries.withColumnRenamed(args.emb_col, "embedding")
    out = ann_index_probe(
        spark, args.index, queries, nprobe=args.nprobe, topk=args.topk,
        exclude_self=not args.keep_self,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    for r in out.orderBy("query_id", "rnk").limit(50).collect():
        print(f"{r['query_id']}	{r['rnk']}	{r['vec_id']}	{r['cosine']:.6f}")


def cmd_pq_index(args) -> None:
    from .functions.ann_index import write_pq_index

    spark = _spark(args)
    emb = spark.read.parquet(args.input)
    cb = write_pq_index(
        emb, args.out, use_kmeans=(args.codebooks == "kmeans"), iters=args.iters
    )
    print(
        f"pq-index: {cb.shape[0]} codes x {cb.shape[1]} dims "
        f"({args.codebooks} codebooks) -> {args.out}"
    )


def cmd_pq_query(args) -> None:
    from .functions.ann_index import pq_index_probe

    spark = _spark(args)
    queries = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("query_id"), args.emb_col
    )
    if args.emb_col != "embedding":
        queries = queries.withColumnRenamed(args.emb_col, "embedding")
    out = pq_index_probe(
        spark, args.index, queries, topk=args.topk, cand=args.cand,
        exclude_self=not args.keep_self,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    for r in out.orderBy("query_id", "rnk").limit(50).collect():
        print(f"{r['query_id']}\t{r['rnk']}\t{r['vec_id']}\t{r['cosine']:.6f}")


def cmd_pack_contig(args) -> None:
    from .functions.packing import contiguous_sequences

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    out = contiguous_sequences(docs, seq_len=args.seq_len, eos=args.eos)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"pack-contig: {n} sequences of {args.seq_len} tokens -> {args.out}")


def cmd_temp_mix(args) -> None:
    from .functions.sampling import temperature_replicate

    spark = _spark(args)
    docs = spark.read.parquet(args.input)
    temperature_replicate(docs, stratum=args.stratum).write.mode(
        "overwrite"
    ).parquet(args.out)
    before = {
        r[args.stratum]: r["n"]
        for r in docs.groupBy(args.stratum).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    after = {
        r[args.stratum]: r["n"]
        for r in spark.read.parquet(args.out)
        .groupBy(args.stratum)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k in sorted(before):
        print(f"temp-mix: {k}\t{before[k]} -> {after.get(k, 0)}")


def cmd_decontam(args) -> None:
    from .functions.decontam import decontaminate_cut, decontaminate_docs
    from .registry import release_scoped_caches

    spark = _spark(args)
    corpus = spark.read.parquet(args.input)
    ev = spark.read.parquet(args.eval)
    if args.action == "report":
        out = decontaminate_docs(corpus, ev, threshold=args.threshold)
        out.write.mode("overwrite").parquet(args.out)
        flagged = spark.read.parquet(args.out).filter("flagged = 1").count()
        print(f"decontam report: {flagged} docs flagged -> {args.out}")
    else:
        out = decontaminate_cut(corpus, ev)
        out.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        cut = res.filter("n_removed > 0").count()
        removed = (
            res.agg(
                F.coalesce(F.sum("n_removed"), F.lit(0)).alias("n")
            ).collect()[0][0]
        )
        print(
            f"decontam cut: {cut} docs rewritten, {removed} tokens removed"
            f" -> {args.out}"
        )
    release_scoped_caches()


def cmd_mine_triplets(args) -> None:
    from .functions.mining import contrastive_triplets
    from .registry import release_scoped_caches

    spark = _spark(args)
    emb = spark.read.parquet(args.input)
    out = contrastive_triplets(
        emb,
        method=args.method,
        k_neg=args.k_neg,
        anchor_cap=args.anchor_cap,
    )
    out.write.mode("overwrite").parquet(args.out)
    release_scoped_caches()
    n = spark.read.parquet(args.out).count()
    a = spark.read.parquet(args.out).select("anchor_id").distinct().count()
    print(f"mine-triplets[{args.method}]: {n} triplets over {a} anchors -> {args.out}")


def cmd_pretrain_build(args) -> None:
    """The end-to-end training-data build, every stage an
    already-tested op with a durable parquet handoff:

        curate → [temperature mixture] → BPE train+encode
               → contiguous pack → shuffled shards

    A failed build resumes with `--from-stage {mix,bpe,pack,shards}`:
    the stages before it are NOT recomputed — their durable parquet
    artifacts under `--out` are read back instead (which is why every
    handoff is written before the next stage starts). Without
    `--from-stage` the whole chain re-runs and overwrites."""
    from .functions.bpe import bpe_encode, bpe_train
    from .functions.curate import curate_corpus
    from .functions.packing import contiguous_sequences_tokens
    from .functions.sampling import (
        temperature_replicate_indexed,
        write_shuffled_shards,
    )
    from .registry import release_scoped_caches

    spark = _spark(args)
    if args.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    out = args.out.rstrip("/")
    order = ["curate", "mix", "bpe", "pack", "shards"]
    start = order.index(args.from_stage) if args.from_stage else 0

    def runs(stage: str) -> bool:
        return order.index(stage) >= start

    if runs("curate"):
        docs = spark.read.parquet(args.input)
        eval_docs = spark.read.parquet(args.eval) if args.eval else None
        curated, census = curate_corpus(
            docs,
            eval_docs,
            lang=args.lang or None,
            repetition=args.repetition,
            neardup_keeper=args.neardup_keeper,
        )
        curated.write.mode("overwrite").parquet(f"{out}/curated")
        release_scoped_caches()
        for stage, n in census:
            print(f"pretrain-build: curate/{stage}\t{n}")
    else:
        print("pretrain-build: curate\tskipped (resume)")
    cur = spark.read.parquet(f"{out}/curated")

    if args.temperature_stratum:
        if runs("mix"):
            temperature_replicate_indexed(
                cur, args.temperature_stratum
            ).write.mode("overwrite").parquet(f"{out}/mixed")
        else:
            print("pretrain-build: mixed\tskipped (resume)")
        cur = spark.read.parquet(f"{out}/mixed")
        if runs("mix"):
            print(f"pretrain-build: mixed\t{cur.count()}")

    if runs("bpe"):
        merges = bpe_train(cur, num_merges=args.bpe_merges)
        spark.createDataFrame(
            merges, "rank int, a string, b string, pair_count long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/bpe_merges")
        bpe_encode(cur, merges).write.mode("overwrite").parquet(
            f"{out}/encoded"
        )
        release_scoped_caches()
        enc = spark.read.parquet(f"{out}/encoded")
        n_tok = enc.agg(
            F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n")
        ).collect()[0][0]
        print(f"pretrain-build: encoded\t{enc.count()} docs, {n_tok} tokens")
    else:
        print("pretrain-build: encoded\tskipped (resume)")
        enc = spark.read.parquet(f"{out}/encoded")

    if runs("pack"):
        contiguous_sequences_tokens(enc, seq_len=args.seq_len).write.mode("overwrite").parquet(f"{out}/sequences")
        seqs = spark.read.parquet(f"{out}/sequences")
        print(f"pretrain-build: sequences\t{seqs.count()} x {args.seq_len}")
    else:
        print("pretrain-build: sequences\tskipped (resume)")
        seqs = spark.read.parquet(f"{out}/sequences")

    write_shuffled_shards(seqs, "seq_id", f"{out}/shards", n_shards=args.shards)
    print(
        f"pretrain-build: done -> {out} (curated"
        + (", mixed" if args.temperature_stratum else "")
        + f", bpe_merges, encoded, sequences, {args.shards} shards)"
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="mrbf_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_split = sub.add_parser("split", help="seeded train/test split (job 0)")
    p_split.add_argument("--input", required=True)
    p_split.add_argument("--out-train", required=True)
    p_split.add_argument("--out-test", required=True)
    p_split.add_argument("--train-frac", type=float, default=0.6)
    p_split.add_argument("--seed", type=int, default=42)

    p_lc = sub.add_parser("linecount", help="per-key cardinality (job 1)")
    p_lc.add_argument("--input", required=True)
    p_lc.add_argument("--key", required=True)
    p_lc.add_argument("--out", required=True)

    p_build = sub.add_parser("build", help="build per-key bloom filters (job 2/3a)")
    p_build.add_argument("--input", required=True)
    p_build.add_argument("--key", required=True)
    p_build.add_argument("--value", required=True)
    p_build.add_argument("-p", type=float, default=0.01)
    p_build.add_argument("--out", required=True)
    p_build.add_argument(
        "--hash-flavor",
        choices=["spark-murmur3", "hadoop-murmur2"],
        default="spark-murmur3",
        help="hash family: canonical codegen'd Spark murmur3, or the "
        "reference Hadoop jobs' murmur2/abs-rem for bit parity",
    )

    p_test = sub.add_parser("test", help="probe + FP report (job 2b/3b)")
    p_test.add_argument("--input", required=True)
    p_test.add_argument("--filters", required=True)
    p_test.add_argument("--key", required=True)
    p_test.add_argument("--value", required=True)
    p_test.add_argument("--out", required=True)
    p_test.add_argument(
        "--hash-flavor",
        choices=["spark-murmur3", "hadoop-murmur2"],
        default="spark-murmur3",
        help="hash family: canonical codegen'd Spark murmur3, or the "
        "reference Hadoop jobs' murmur2/abs-rem for bit parity",
    )

    p_pipe = sub.add_parser("pipeline", help="all four jobs in one app")
    p_pipe.add_argument("--input", required=True)
    p_pipe.add_argument("--key", required=True)
    p_pipe.add_argument("--value", required=True)
    p_pipe.add_argument(
        "-p",
        default="0.01",
        help="false-positive rate, or comma list for a sweep "
        "(e.g. 0.01,0.05,0.1 — the reference's sh-scripts/{2,3} loops)",
    )
    p_pipe.add_argument("--seed", type=int, default=42)
    p_pipe.add_argument("--out", default=None)

    p_shard = sub.add_parser(
        "shard", help="reproducible shuffle+shard export (training shards)"
    )
    p_shard.add_argument("--input", required=True)
    p_shard.add_argument("--id-col", default="doc_id")
    p_shard.add_argument("--n-shards", type=int, default=8)
    p_shard.add_argument("--out", required=True)

    p_dinc = sub.add_parser(
        "dedup-inc",
        help="incremental dedup: classify an increment against a "
        "history fingerprint index (give --index, or --history to "
        "bootstrap one)",
    )
    p_dinc.add_argument("--input", required=True, help="increment parquet")
    p_dinc.add_argument("--index", default=None, help="(fingerprint, hist_id) parquet")
    p_dinc.add_argument("--history", default=None, help="history corpus parquet")
    p_dinc.add_argument("--id-col", default="doc_id")
    p_dinc.add_argument("--text-col", default="text")
    p_dinc.add_argument("--out", required=True)

    p_prof = sub.add_parser(
        "profile", help="per-column profile of any parquet table"
    )
    p_prof.add_argument("--input", required=True)
    p_prof.add_argument("--out", default=None)
    p_prof.add_argument(
        "--approx", action="store_true",
        help="HLL n_distinct (the 100 TB mode: 1x-rows scan, no Expand)",
    )

    p_val = sub.add_parser(
        "validate",
        help="run the events constraint suite; exit 1 if any check fails",
    )
    p_val.add_argument("--input", required=True, help="events parquet")
    p_val.add_argument("--dim", required=True, help="customer dim parquet")
    p_val.add_argument("--out", default=None)

    p_diff = sub.add_parser(
        "diff", help="snapshot diff: classify pks across two table versions"
    )
    p_diff.add_argument("--old", required=True)
    p_diff.add_argument("--new", required=True)
    p_diff.add_argument("--pk", default="doc_id")
    p_diff.add_argument("--out", default=None)

    p_rb = sub.add_parser(
        "rollup-build",
        help="materialize a per-key count/sum/min/max rollup "
        "(build once; refresh with rollup-maintain)",
    )
    p_rb.add_argument("--input", required=True)
    p_rb.add_argument("--keys", required=True, help="comma-separated key columns")
    p_rb.add_argument("--value", required=True, help="numeric value column")
    p_rb.add_argument("--out", required=True)

    p_rm = sub.add_parser(
        "rollup-maintain",
        help="refresh a rollup from an old->new snapshot pair via "
        "incremental view maintenance (delta-sized work + dirty-key "
        "min/max rescan)",
    )
    p_rm.add_argument("--old", required=True)
    p_rm.add_argument("--new", required=True)
    p_rm.add_argument("--pk", required=True)
    p_rm.add_argument("--keys", required=True)
    p_rm.add_argument("--value", required=True)
    p_rm.add_argument(
        "--base", default=None,
        help="persisted rollup from rollup-build (recomputed from "
        "--old when omitted)",
    )
    p_rm.add_argument(
        "--rescan-partition", default=None, metavar="PCOL:SQL_EXPR",
        help="partition column of --new derived from the key columns "
        "(e.g. 'kb:pmod(crc32(k),8)') — statically prunes the "
        "dirty-key min/max rescan to touched partitions",
    )
    p_rm.add_argument("--out", required=True)

    p_rp = sub.add_parser(
        "report",
        help="corpus quality report: size, dup rate, language mix, "
        "Gopher pass rate, PII density — one scan",
    )
    p_rp.add_argument("--input", required=True, help="documents parquet")
    p_rp.add_argument("--out", default=None)

    p_mg = sub.add_parser(
        "merge",
        help="MERGE INTO: upsert source into target by pk; writes the "
        "merged table and prints the action census",
    )
    p_mg.add_argument("--target", required=True)
    p_mg.add_argument("--source", required=True)
    p_mg.add_argument("--pk", default="doc_id")
    p_mg.add_argument("--out", default=None)
    p_mg.add_argument("--delete-missing", action="store_true")
    p_mg.add_argument(
        "--bucketed", action="store_true",
        help="target is a pk-bucketed directory (write_bucketed_target); "
        "merge IN PLACE, rewriting only touched buckets",
    )
    p_mg.add_argument("--buckets", type=int, default=64)

    p_ss = sub.add_parser(
        "split-safe",
        help="leakage-safe train/val/test split: near-duplicates never "
        "straddle a split boundary (cluster-keyed assignment)",
    )
    p_ss.add_argument("--input", required=True, help="documents parquet")
    p_ss.add_argument("--out", default=None)

    p_sk = sub.add_parser(
        "sketch",
        help="KMV distinct estimate per group, or count-min top-N probe",
    )
    p_sk.add_argument("--input", required=True)
    p_sk.add_argument("--kind", choices=["kmv", "cms", "qtl", "hh"], default="kmv")
    p_sk.add_argument("--group", default="event_type")
    p_sk.add_argument("--item", default="user_id")
    p_sk.add_argument("--value", default="value", help="qtl: numeric column")
    p_sk.add_argument("--min-count", type=int, default=100, help="hh: threshold")
    p_sk.add_argument("--key", default="event_id", help="qtl: unique row key")
    p_sk.add_argument("--topn", type=int, default=10)
    p_sk.add_argument("--out", default=None)

    p_zo = sub.add_parser(
        "zorder",
        help="rewrite a parquet table space-filling-curve-clustered on k "
        "columns (multi-dimensional row-group pruning)",
    )
    p_zo.add_argument("--input", required=True)
    p_zo.add_argument("--out", required=True)
    p_zo.add_argument("--cols", required=True, help="k ≥ 2 columns: c1,c2[,c3…]")
    p_zo.add_argument("--files", type=int, default=8)
    p_zo.add_argument(
        "--curve", choices=("morton", "hilbert"), default="morton",
        help="morton = any k; hilbert = 2 columns, tighter locality",
    )

    p_cu = sub.add_parser(
        "curate",
        help="build the curated training set: exact dedup -> quality "
        "gate [-> repetition gate] -> Jaccard near-dup -> semantic "
        "dedup -> decontamination",
    )
    p_cu.add_argument(
        "--decontam-action",
        choices=("drop", "cut"),
        default="drop",
        help="drop = remove docs over the contamination threshold; "
        "cut = span-level surgery (rewrite text, keep the doc)",
    )
    p_cu.add_argument(
        "--repetition",
        action="store_true",
        help="enable the 13-threshold Gopher repetition gate after the"
        " quality gate (aggressive on short documents)",
    )
    p_cu.add_argument("--input", required=True)
    p_cu.add_argument("--out", required=True)
    p_cu.add_argument("--eval", default=None, help="eval set for decontamination")
    p_cu.add_argument("--lang", default="en", help="'' disables the lang gate")
    p_cu.add_argument("--min-tokens", type=int, default=5)
    p_cu.add_argument("--jaccard-tau", type=float, default=0.5)
    p_cu.add_argument(
        "--neardup-keeper",
        choices=("pairwise", "cluster", "greedy"),
        default="pairwise",
        help="near-dup keeper election: pairwise = drop on any "
        "smaller-id partner; cluster = one keeper per connected "
        "component; greedy = maximal independent set (every dropped "
        "doc keeps a surviving near-dup partner)",
    )
    p_cu.add_argument("--no-semantic", action="store_true")
    p_cu.add_argument(
        "--classifier-weights", default=None,
        help="weights parquet from quality-train: adds the LEARNED "
        "quality gate after the heuristic gate (drop pred==0 docs)",
    )
    p_cu.add_argument(
        "--checkpoint-dir",
        default=None,
        help="write lineage-safe stage handoffs (.checkpoint()) to this "
        "directory (a shared path on a cluster); without it handoffs "
        "are executor-local (.localCheckpoint())",
    )
    p_cu.add_argument("--shards", type=int, default=0)

    p_ai = sub.add_parser(
        "ann-index",
        help="build and persist an IVF index over an embeddings table "
        "(corpus partitioned by cell; probes partition-prune)",
    )
    p_ai.add_argument("--input", required=True, help="parquet with vec_id, embedding")
    p_ai.add_argument("--out", required=True)
    p_ai.add_argument("--k", type=int, default=16)
    p_ai.add_argument("--centroids", choices=("flat", "kmeans"), default="flat")
    p_ai.add_argument("--iters", type=int, default=5)

    p_ci = sub.add_parser(
        "curate-inc",
        help="curate a NEW shard against an immutable curated history:"
        " exact+near dedup vs history, quality gate, decontamination",
    )
    p_ci.add_argument("--input", required=True, help="the new shard parquet")
    p_ci.add_argument(
        "--history", default=None, help="curated history parquet (docs)"
    )
    p_ci.add_argument(
        "--history-index", default=None,
        help="persisted index from curate-index-build (replaces "
        "--history for frequent-append deployments; history text is "
        "never re-read)",
    )
    p_ci.add_argument("--out", required=True)
    p_ci.add_argument("--eval", default=None, help="eval set for decontamination")
    p_ci.add_argument("--lang", default="en", help="'' disables the lang gate")
    p_ci.add_argument("--jaccard-tau", type=float, default=0.5)

    p_cib = sub.add_parser(
        "curate-index-build",
        help="persist the curate-inc history artifacts (fingerprints, "
        "shingle index, shingle census) — build once, append many",
    )
    p_cib.add_argument("--history", required=True, help="curated history parquet")
    p_cib.add_argument("--out", required=True, help="index directory")

    p_qt = sub.add_parser(
        "quality-train",
        help="train the all-integer hard-sigmoid quality classifier "
        "on hashed bigram features; writes the weight table",
    )
    p_qt.add_argument("--input", required=True, help="labeled documents parquet")
    p_qt.add_argument("--out", required=True, help="weights parquet (pos, val)")
    p_qt.add_argument(
        "--label", default="lang = 'en'",
        help="SQL predicate over the input columns giving the binary "
        "reference label (default: lang = 'en', the CCNet shape)",
    )

    p_qs = sub.add_parser(
        "quality-score",
        help="score documents with frozen quality-classifier weights",
    )
    p_qs.add_argument("--input", required=True)
    p_qs.add_argument("--model", required=True, help="weights parquet from quality-train")
    p_qs.add_argument("--out", required=True)
    p_qs.add_argument(
        "--eval-label", default=None,
        help="SQL predicate giving the reference label; when set, also "
        "print the quality report (threshold-sweep confusion counts + "
        "exact midrank AUC) over the scored input",
    )

    p_aa = sub.add_parser(
        "ann-append",
        help="append new vectors to a persisted IVF/PQ index: encode "
        "only the increment against the frozen quantizer; prints the "
        "drift report",
    )
    p_aa.add_argument("--index", required=True, help="index directory")
    p_aa.add_argument("--input", required=True, help="parquet with vec_id, embedding")
    p_aa.add_argument("--kind", choices=("ivf", "pq"), default="ivf")

    p_aq = sub.add_parser(
        "ann-query", help="probe a persisted IVF index with a query batch"
    )
    p_aq.add_argument("--index", required=True)
    p_aq.add_argument("--input", required=True, help="query vectors parquet")
    p_aq.add_argument("--id-col", default="vec_id")
    p_aq.add_argument("--emb-col", default="embedding")
    p_aq.add_argument("--nprobe", type=int, default=6)
    p_aq.add_argument("--topk", type=int, default=5)
    p_aq.add_argument("--keep-self", action="store_true")
    p_aq.add_argument("--out", default=None)

    p_sd = sub.add_parser(
        "semdedup",
        help="SemDeDup semantic dedup over an embeddings table "
        "(cluster-scoped near-dup removal, lowest-centroid-cosine keeper)",
    )
    p_sd.add_argument("--input", required=True, help="parquet with vec_id, embedding")
    p_sd.add_argument("--out", required=True)
    p_sd.add_argument("--tau", type=float, default=0.5)
    p_sd.add_argument(
        "--centroids", choices=("flat", "kmeans"), default="flat",
        help="flat = first-k deterministic quantizer; kmeans = "
        "distributed full-corpus Lloyd (quality path)",
    )
    p_sd.add_argument("--k", type=int, default=16)
    p_sd.add_argument("--iters", type=int, default=5, help="kmeans iterations")

    p_dsir = sub.add_parser(
        "dsir",
        help="DSIR importance-resampling selection: score raw docs by "
        "target-likeness under hashed n-gram models, keep the top "
        "quarter",
    )
    p_dsir.add_argument("--input", required=True, help="parquet with doc_id, text")
    p_dsir.add_argument(
        "--target", required=True,
        help="SQL predicate defining the target split, e.g. \"lang = 'en'\"",
    )
    p_dsir.add_argument("--out", required=True)
    p_dsir.add_argument("--buckets", type=int, default=256)

    p_cs = sub.add_parser(
        "cut-spans",
        help="remove cross-document duplicated K-token spans via "
        "per-window lowest-doc_id keeper election (the Lee et al. "
        "dedup cut; overlapping windows with different keepers can "
        "cut a passage from every doc — see remove_dup_spans)",
    )
    p_cs.add_argument("--input", required=True, help="parquet with doc_id, text")
    p_cs.add_argument("--out", required=True)
    p_cs.add_argument("--k", type=int, default=16, help="window width in tokens")

    p_bpee = sub.add_parser(
        "bpe-encode",
        help="segment a corpus with a persisted bpe-train merge table",
    )
    p_bpee.add_argument("--input", required=True)
    p_bpee.add_argument("--merges", required=True, help="bpe-train output")
    p_bpee.add_argument("--out", required=True)
    p_bpee.add_argument("--text-col", default="text")

    p_lmt = sub.add_parser(
        "lm-train",
        help="train the add-one bigram LM on a reference corpus and "
        "persist it (model + vocab size) as a frozen artifact",
    )
    p_lmt.add_argument("--input", required=True, help="parquet with a text column")
    p_lmt.add_argument("--out", required=True, help="model dir (model/ + meta/)")

    p_lms = sub.add_parser(
        "lm-score",
        help="score new documents under a frozen lm-train artifact "
        "(CCNet deployment shape; unseen bigrams add-one smoothed)",
    )
    p_lms.add_argument("--input", required=True)
    p_lms.add_argument("--model", required=True, help="lm-train output dir")
    p_lms.add_argument("--out", default=None)

    p_bpe = sub.add_parser(
        "bpe-train",
        help="learn a BPE merge table from the corpus (word-frequency "
        "two-level training); optionally encode the corpus with it",
    )
    p_bpe.add_argument("--input", required=True, help="parquet with a text column")
    p_bpe.add_argument("--out", required=True, help="merges parquet")
    p_bpe.add_argument("--merges", type=int, default=100)
    p_bpe.add_argument("--min-count", type=int, default=2)
    p_bpe.add_argument("--text-col", default="text")
    p_bpe.add_argument(
        "--encode-out", default=None, help="also write (doc_id, n_tokens, tokens)"
    )

    p_cpt = sub.add_parser(
        "compact", help="coalesce small files toward a target file size"
    )
    p_cpt.add_argument("--input", required=True)
    p_cpt.add_argument("--out", required=True)
    p_cpt.add_argument("--target-mb", type=int, default=128)

    p_pqi = sub.add_parser(
        "pq-index",
        help="build and persist a product-quantization index "
        "(codes/vectors/codebook; probes scan only the codes table)",
    )
    p_pqi.add_argument("--input", required=True, help="parquet with vec_id, embedding")
    p_pqi.add_argument("--out", required=True)
    p_pqi.add_argument("--codebooks", choices=("flat", "kmeans"), default="flat")
    p_pqi.add_argument("--iters", type=int, default=5)

    p_pqq = sub.add_parser(
        "pq-query", help="probe a persisted PQ index with a query batch"
    )
    p_pqq.add_argument("--index", required=True)
    p_pqq.add_argument("--input", required=True, help="query vectors parquet")
    p_pqq.add_argument("--id-col", default="vec_id")
    p_pqq.add_argument("--emb-col", default="embedding")
    p_pqq.add_argument("--topk", type=int, default=5)
    from .functions.similarity import PQ_CAND as _PQ_CAND

    p_pqq.add_argument(
        "--cand", type=int, default=_PQ_CAND, help="ADC candidates/query"
    )
    p_pqq.add_argument("--keep-self", action="store_true")
    p_pqq.add_argument("--out", default=None)

    p_pc = sub.add_parser(
        "pack-contig",
        help="cut the EOS-joined doc_id-ordered token stream into "
        "fixed-length pretraining rows (seq_text + doc_starts "
        "attention-reset offsets)",
    )
    p_pc.add_argument("--input", required=True, help="parquet with doc_id, text")
    p_pc.add_argument("--out", required=True)
    p_pc.add_argument("--seq-len", type=int, default=128)
    p_pc.add_argument("--eos", default="<eos>")

    p_tm = sub.add_parser(
        "temp-mix",
        help="temperature-rebalance a corpus (alpha=1/2 exponentiated "
        "sampling; scarce strata upsampled toward the largest with "
        "content-addressed fractional copies)",
    )
    p_tm.add_argument("--input", required=True, help="parquet with doc_id")
    p_tm.add_argument("--out", required=True)
    p_tm.add_argument("--stratum", default="lang")

    p_dc = sub.add_parser(
        "decontam",
        help="benchmark decontamination: report per-doc eval n-gram "
        "overlap, or cut the overlapping spans out of the text",
    )
    p_dc.add_argument("--input", required=True, help="corpus parquet")
    p_dc.add_argument("--eval", required=True, help="eval-set parquet")
    p_dc.add_argument("--out", required=True)
    p_dc.add_argument("--action", choices=("report", "cut"), default="report")
    p_dc.add_argument("--threshold", type=float, default=0.05)

    p_mt = sub.add_parser(
        "mine-triplets",
        help="contrastive (anchor, positive, hard-negative) training "
        "triplets over an embedding corpus; method=ivf routes the "
        "negative search through spherical-kmeans cells",
    )
    p_mt.add_argument("--input", required=True, help="parquet with vec_id, embedding, label")
    p_mt.add_argument("--out", required=True)
    p_mt.add_argument(
        "--method", choices=("auto", "exact", "ivf"), default="auto",
        help="auto (default) counts anchors x corpus and routes to "
        "ivf above the dot budget; exact/ivf force a path",
    )
    p_mt.add_argument("--k-neg", type=int, default=3)
    p_mt.add_argument(
        "--anchor-cap", type=int, default=None,
        help="bound mining to the N smallest anchor ids (use on "
        "near-dup-saturated corpora; better: dedup first)",
    )

    p_pb = sub.add_parser(
        "pretrain-build",
        help="end-to-end training-data build: curate -> [temperature "
        "mixture] -> BPE train+encode -> contiguous pack -> shuffled "
        "shards; every stage a durable parquet handoff",
    )
    p_pb.add_argument("--input", required=True, help="documents parquet")
    p_pb.add_argument("--out", required=True, help="build directory")
    p_pb.add_argument("--eval", default=None, help="eval set for decontamination")
    p_pb.add_argument("--lang", default="en", help="'' disables the lang gate")
    p_pb.add_argument("--repetition", action="store_true",
                      help="enable the Gopher repetition gate in curate")
    p_pb.add_argument("--neardup-keeper",
                      choices=("pairwise", "cluster", "greedy"),
                      default="pairwise")
    p_pb.add_argument("--temperature-stratum", default="",
                      help="e.g. 'source'; '' skips the mixture stage")
    p_pb.add_argument("--bpe-merges", type=int, default=50)
    p_pb.add_argument("--seq-len", type=int, default=128)
    p_pb.add_argument("--shards", type=int, default=8)
    p_pb.add_argument(
        "--checkpoint-dir",
        default=None,
        help="write lineage-safe stage handoffs (.checkpoint()) to this "
        "directory (a shared path on a cluster); without it handoffs "
        "are executor-local (.localCheckpoint())",
    )
    p_pb.add_argument(
        "--from-stage",
        choices=["mix", "bpe", "pack", "shards"],
        default=None,
        help="resume: skip earlier stages, reading their durable "
        "parquet artifacts under --out instead of recomputing",
    )

    args = ap.parse_args(argv)
    if args.cmd == "dedup-inc" and not (args.index or args.history):
        ap.error("dedup-inc needs --index or --history")
    rc = {
        "split": cmd_split,
        "linecount": cmd_linecount,
        "build": cmd_build,
        "test": cmd_test,
        "pipeline": cmd_pipeline,
        "shard": cmd_shard,
        "dedup-inc": cmd_dedup_inc,
        "profile": cmd_profile,
        "validate": cmd_validate,
        "diff": cmd_diff,
        "rollup-build": cmd_rollup_build,
        "rollup-maintain": cmd_rollup_maintain,
        "report": cmd_report,
        "merge": cmd_merge,
        "split-safe": cmd_split_safe,
        "sketch": cmd_sketch,
        "zorder": cmd_zorder,
        "semdedup": cmd_semdedup,
        "ann-index": cmd_ann_index,
        "ann-append": cmd_ann_append,
        "curate-inc": cmd_curate_inc,
        "curate-index-build": cmd_curate_index_build,
        "quality-train": cmd_quality_train,
        "quality-score": cmd_quality_score,
        "curate": cmd_curate,
        "ann-query": cmd_ann_query,
        "bpe-train": cmd_bpe_train,
        "bpe-encode": cmd_bpe_encode,
        "cut-spans": cmd_cut_spans,
        "dsir": cmd_dsir,
        "lm-train": cmd_lm_train,
        "lm-score": cmd_lm_score,
        "compact": cmd_compact,
        "pq-index": cmd_pq_index,
        "pq-query": cmd_pq_query,
        "pack-contig": cmd_pack_contig,
        "temp-mix": cmd_temp_mix,
        "pretrain-build": cmd_pretrain_build,
        "mine-triplets": cmd_mine_triplets,
        "decontam": cmd_decontam,
    }[args.cmd](args)
    return int(rc or 0)


if __name__ == "__main__":
    sys.exit(main())
