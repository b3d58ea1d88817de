"""Input sources: the exchange-rate dimension (``rates``), the POS
simulator data source (``pos_datasource``), batch CSV readers
(``batch``) and the star-schema table loader (``registry``)."""
