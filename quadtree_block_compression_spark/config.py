"""Engine configuration.

Mirrors the reference's YAML config surface (``pkg/config/config.go:9-55``,
defaults ``configs/config.yml:1-33``) as a plain dataclass. Spark-level knobs
(parallelism booleans in the reference, ``config.go:33-34,41``) are replaced
by ordinary Spark configuration — partition counts, AQE — set in
:mod:`.session`.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class QuadtreeConfig:
    # reference: configs/config.yml:4 (SimilarityCutoff: 0.9)
    similarity_cutoff: float = 0.9
    # reference: configs/config.yml:6-8 (defaults that matter: NN down, CatmullRom up)
    downsampling_interpolator: str = "NearestNeighbor"
    upsampling_interpolator: str = "CatmullRom"


@dataclass(frozen=True)
class EncodingConfig:
    # reference: configs/config.yml:10-27
    skip_out_of_bounds_blocks: bool = False
    deduplicate_blocks: bool = False
    dedup_minimal_similarity: float = 0.9
    # our lossy block codec quality (reference uses Go jpeg default 75,
    # pkg/quadtreeImage/quadtreeElement.go:254)
    block_quality: int = 75
    # per-image archive container: "gzip" (tar.gz — the reference's
    # default, configs/config.yml:13) or "zip" (archive.go:19-23)
    archive_format: str = "gzip"


@dataclass(frozen=True)
class VisualizationConfig:
    # reference: configs/config.yml:29-31 (Visualization.Enable)
    enable: bool = False


@dataclass(frozen=True)
class SpatialConfig:
    # Z-order cell resolution (bits per axis) used for cell keys — the
    # pure-numpy stand-in for H3/S2 cells (SURVEY.md §2.12).
    cell_resolution: int = 8
    # candidate-count threshold marking a cell "hot" for salted joins
    hot_cell_threshold: int = 10_000
    salt_factor: int = 8


_INTERPOLATORS = ("NearestNeighbor", "ApproxBiLinear", "BiLinear", "CatmullRom")
_ARCHIVE_FORMATS = ("gzip", "zip")


@dataclass(frozen=True)
class EngineConfig:
    quadtree: QuadtreeConfig = field(default_factory=QuadtreeConfig)
    encoding: EncodingConfig = field(default_factory=EncodingConfig)
    spatial: SpatialConfig = field(default_factory=SpatialConfig)
    visualization: VisualizationConfig = field(default_factory=VisualizationConfig)

    @classmethod
    def from_yaml_bytes(cls, data: "bytes | str") -> "EngineConfig":
        """Construct from a reference-schema YAML document
        (``pkg/config/config.go:9-55``; example ``configs/config.yml:1-33``)
        so a reference user's config file drives this engine unchanged.

        The reference's ``Parallelism`` booleans (``config.go:33-34,41`` —
        its goroutine fan-out switches) are accepted and IGNORED: Spark's
        scheduler owns parallelism here (partition counts + AQE, set in
        :mod:`.session`), so they map to no engine knob by design.

        Unknown interpolator / archive-format names fail fast — a typo'd
        config silently falling back to defaults would be a semantic drift
        the round-trip tests could not see.
        """
        text = data.decode("utf-8") if isinstance(data, bytes) else data
        doc = parse_yaml_subset(text)
        qt_d = doc.get("Quadtree", {}) or {}
        enc_d = doc.get("Encoding", {}) or {}
        skip_d = enc_d.get("SkipOutOfBoundsBlocks", {}) or {}
        dedup_d = enc_d.get("DeduplicateBlocks", {}) or {}
        vis_d = doc.get("Visualization", {}) or {}

        base_qt, base_enc = QuadtreeConfig(), EncodingConfig()
        down = qt_d.get("DownsamplingInterpolator",
                        base_qt.downsampling_interpolator)
        up = qt_d.get("UpsamplingInterpolator", base_qt.upsampling_interpolator)
        for name in (down, up):
            if name not in _INTERPOLATORS:
                raise ValueError(
                    f"unknown interpolator {name!r}; expected one of "
                    f"{_INTERPOLATORS} (reference pkg/utils/utils.go naming)")
        fmt = enc_d.get("ArchiveFormat", base_enc.archive_format)
        if fmt not in _ARCHIVE_FORMATS:
            raise ValueError(f"unknown ArchiveFormat {fmt!r}; expected one "
                             f"of {_ARCHIVE_FORMATS}")
        return cls(
            quadtree=QuadtreeConfig(
                similarity_cutoff=float(qt_d.get("SimilarityCutoff",
                                                 base_qt.similarity_cutoff)),
                downsampling_interpolator=down,
                upsampling_interpolator=up),
            encoding=EncodingConfig(
                skip_out_of_bounds_blocks=bool(skip_d.get(
                    "Enable", base_enc.skip_out_of_bounds_blocks)),
                deduplicate_blocks=bool(dedup_d.get(
                    "Enable", base_enc.deduplicate_blocks)),
                dedup_minimal_similarity=float(dedup_d.get(
                    "MinimalSimilarity", base_enc.dedup_minimal_similarity)),
                archive_format=fmt),
            visualization=VisualizationConfig(
                enable=bool(vis_d.get("Enable", False))))

    @classmethod
    def from_yaml_file(cls, path: str) -> "EngineConfig":
        """Mirror of the reference's ``NewConfigFromFile``
        (``pkg/config/config.go:58-64``)."""
        with open(path, "rb") as f:
            return cls.from_yaml_bytes(f.read())


def _yaml_scalar(tok: str):
    """Scalar per the subset the reference schema needs: quoted strings,
    booleans in PyYAML's YAML 1.1 spellings, ints, floats, bare strings."""
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"":
        return tok[1:-1]
    # exact YAML-1.1 bool spellings (PyYAML's resolver set): a blanket
    # .lower() also coerced mixed-case tokens like "oN"/"yEs" that YAML
    # treats as plain strings (caught by the property test vs safe_load)
    # (single-letter y/n are YAML-1.1-spec bools but PyYAML excludes them,
    # and the property test pins PyYAML's behavior)
    if tok in ("true", "True", "TRUE", "yes", "Yes", "YES", "on", "On", "ON"):
        return True
    if tok in ("false", "False", "FALSE", "no", "No", "NO", "off", "Off",
               "OFF"):
        return False
    for cast in (int, float):
        try:
            return cast(tok)
        except ValueError:
            pass
    return tok


def parse_yaml_subset(text: str) -> dict:
    """Minimal indentation-scoped YAML-mapping parser — exactly the subset
    the reference config schema uses (nested mappings of scalars, ``#``
    comments, quoted strings). Stdlib-only on purpose: the engine must load
    a reference ``config.yml`` in containers that ship no yaml wheel.
    Not a general YAML parser: no sequences, anchors, multi-line scalars,
    or ``#`` inside unquoted values."""
    root: dict = {}
    stack: list[tuple[int, dict]] = [(-1, root)]
    for raw in text.splitlines():
        stripped = raw.strip()
        # full-line comments; inline comments are stripped at the last '#'
        # preceded by whitespace (quoted values are re-joined by _yaml_scalar
        # only when the quotes survive, so "#" inside quotes is unsupported
        # — documented subset)
        if not stripped or stripped.startswith("#"):
            continue
        line = raw.split(" #", 1)[0].rstrip()
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip(" "))
        body = line.strip()
        if ":" not in body:
            raise ValueError(f"unsupported YAML line (no mapping key): {raw!r}")
        key, _, val = body.partition(":")
        key = _yaml_scalar(key.strip())
        while stack and indent <= stack[-1][0]:
            stack.pop()
        parent = stack[-1][1]
        val = val.strip()
        if val == "":
            child: dict = {}
            parent[key] = child
            stack.append((indent, child))
        else:
            parent[key] = _yaml_scalar(val)
    return root


DEFAULT_CONFIG = EngineConfig()
