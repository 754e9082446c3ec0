"""Table sources: versioned parquet tables, loose image files, archives."""
