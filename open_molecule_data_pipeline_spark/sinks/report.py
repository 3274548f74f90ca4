"""Markdown run report (reference parity).

Mirrors the reference's ``raw-data-report.md`` renderer (reference
``ingestion/runner.py:317-385``): a per-source summary table plus detail
sections with completed flag, batch/record counts, output location and
file/byte statistics, with the same human-readable byte formatting
(``runner.py:301-314``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from pathlib import Path


@dataclass
class DirectorySummary:
    directory: str
    file_count: int = 0
    total_bytes: int = 0


@dataclass
class SourceSummary:
    name: str
    type: str
    completed: bool = False
    total_batches: int = 0
    records_written: int = 0
    output: DirectorySummary | None = None
    downloads: DirectorySummary | None = None
    extra: dict = field(default_factory=dict)


def _hidden(p: Path, root: Path) -> bool:
    """Hadoop's hidden-file rule, which Spark's readers apply: a name
    starting with ``.`` or ``_`` (``.part-*.crc`` checksums, ``_SUCCESS``,
    ``_temporary/``) is not data."""
    return any(part[:1] in (".", "_") for part in p.relative_to(root).parts)


def summarize_directory(path: str | Path, patterns: tuple[str, ...] = ("*",)) -> DirectorySummary:
    """Recursive count + byte sum of the visible files (reference
    ``runner.py:264-298``)."""
    root = Path(path)
    files: set[Path] = set()
    if root.exists():
        for pattern in patterns:
            files.update(
                p for p in root.rglob(pattern) if p.is_file() and not _hidden(p, root)
            )
    return DirectorySummary(
        directory=str(root),
        file_count=len(files),
        total_bytes=sum(p.stat().st_size for p in files),
    )


def human_bytes(n: int) -> str:
    """1536 -> '1.5 KiB' (reference ``runner.py:301-314``)."""
    size = float(n)
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if size < 1024 or unit == "TiB":
            return f"{size:.1f} {unit}" if unit != "B" else f"{int(size)} B"
        size /= 1024
    return f"{size:.1f} TiB"  # pragma: no cover


def render_report(summaries: list[SourceSummary], *, title: str = "Raw data report") -> str:
    lines = [
        f"# {title}",
        "",
        f"Generated: {datetime.now(timezone.utc).isoformat(timespec='seconds')}",
        "",
        "| source | type | completed | batches | records | files | size |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for s in sorted(summaries, key=lambda x: x.name):
        out = s.output or DirectorySummary("-")
        lines.append(
            f"| {s.name} | {s.type} | {'yes' if s.completed else 'no'} "
            f"| {s.total_batches} | {s.records_written} "
            f"| {out.file_count} | {human_bytes(out.total_bytes)} |"
        )
    for s in sorted(summaries, key=lambda x: x.name):
        lines += ["", f"## {s.name}", ""]
        lines.append(f"- type: {s.type}")
        lines.append(f"- completed: {'yes' if s.completed else 'no'}")
        lines.append(f"- batches written: {s.total_batches}")
        lines.append(f"- records written: {s.records_written}")
        if s.output:
            lines.append(
                f"- output: `{s.output.directory}` "
                f"({s.output.file_count} files, {human_bytes(s.output.total_bytes)})"
            )
        if s.downloads:
            lines.append(
                f"- downloads: `{s.downloads.directory}` "
                f"({s.downloads.file_count} files, {human_bytes(s.downloads.total_bytes)})"
            )
    return "\n".join(lines) + "\n"


def write_report(
    summaries: list[SourceSummary], path: str | Path, *, title: str = "Raw data report"
) -> Path:
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(render_report(summaries, title=title), encoding="utf-8")
    return path
